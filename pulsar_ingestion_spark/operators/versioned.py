"""Versioned parquet tables: snapshot isolation, time travel, rollback,
and safe vacuum over a plain-parquet layout — the minimal table-format
core (manifest-per-version) that Delta/Iceberg generalize.

Why it exists here: the ingestion pipeline's sinks (plans/pipeline.py,
operators/storage.py) give exactly-once WRITES, but a reader racing a
writer over a bare directory still sees half-committed file sets.  A
manifest pins each version to an explicit file list, so:

  * readers resolve ONE manifest and only ever see a committed set
    (snapshot isolation — a concurrent append/overwrite is invisible
    until its manifest lands);
  * commits are a single atomic file creation (O(1) regardless of data
    size — rename-based, `O_EXCL` semantics via os.link);
  * optimistic concurrency: two writers racing to version N+1 — exactly
    one wins the link; the loser re-reads state and retries against N+2
    (classic CAS loop, same contract as a Delta transaction log);
  * history is append-only: rollback WRITES A NEW VERSION that points at
    the old file list (never mutates history), and vacuum only deletes
    files unreachable from the retained manifests.

Scale notes (100 TB): manifests carry file PATHS, not data — a version
of a million-file table is a ~100 MB JSON (Iceberg splits this into
avro manifest trees; same idea).  Reads hand Spark an explicit file
list, so partition pruning and column pruning work unchanged.  Local
renames here; object stores use conditional PUTs for the same CAS.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """Another writer committed this version first (after max retries)."""


# Watermark entries for stream batches committed without an explicit
# app id (single-stream tables, and all pre-r7 history).
_DEFAULT_APP = "__default__"


@dataclass
class Version:
    version: int
    op: str
    files: list[str]  # relative to table root
    parent: int | None
    schema: StructType | None = None  # as committed; None in older manifests


class VersionedTable:
    """A parquet table whose committed states are manifest files
    ``<root>/_versions/v<N>.json`` listing the data files of version N."""

    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_versions")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version}.json")

    def describe(self, version: int | None = None) -> Version:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed version in {self.root}")
        with open(self._manifest_path(version)) as fh:
            m = json.load(fh)
        schema = m.get("meta", {}).get("schema")
        return Version(
            version=version, op=m["op"], files=m["files"], parent=m.get("parent"),
            schema=None if schema is None else StructType.fromJson(schema),
        )

    def _commit(
        self,
        op: str,
        files: list[str],
        base: int | None,
        meta: dict | None = None,
    ) -> int:
        """ONE CAS attempt: atomically link the staged manifest at
        ``base + 1``, where ``base`` is the version whose file list the
        caller READ.  Never re-reads the current version internally —
        committing against a version newer than the one the file list
        was derived from would land a manifest that silently omits the
        racer's files (the classic lost-update/TOCTOU).  If a racer
        already took the slot, raises :class:`CommitConflict`; the
        caller must re-read table state before retrying."""
        target = 0 if base is None else base + 1
        staged = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(staged, "w") as fh:
            json.dump(
                {"op": op, "files": sorted(files), "parent": base,
                 "meta": meta or {}},
                fh,
            )
        try:
            os.link(staged, self._manifest_path(target))  # atomic claim
            return target
        except FileExistsError:
            raise CommitConflict(
                f"version {target} of {self.root} was committed by a racer"
            ) from None
        finally:
            os.unlink(staged)

    def _commit_with_retries(
        self,
        op: str,
        files_for_base,
        meta: dict | None = None,
        max_retries: int = 10,
    ) -> int:
        """Optimistic-concurrency loop: (re-)read the current version,
        derive the new file list FROM THAT base via ``files_for_base(
        base_files)``, and CAS at base+1.  An interleaved commit makes
        the CAS fail deterministically, so the loser always rebuilds its
        file list against the winner's state — no lost updates."""
        for _ in range(max_retries):
            base = self.current_version()
            try:
                base_files = self.describe(base).files if base is not None else []
            except FileNotFoundError:
                # a concurrent vacuum expired `base` between the listing
                # and the read (found by the round-9 three-writer stress:
                # vacuum only drops NON-latest manifests, but `base` may
                # no longer be latest by the time we read it) — re-read
                continue
            try:
                return self._commit(op, files_for_base(base_files), base, meta=meta)
            except CommitConflict:
                continue
        raise CommitConflict(f"lost {max_retries} commit races in {self.root}")

    # -- write paths --------------------------------------------------------

    def _write_files(self, df: DataFrame) -> list[str]:
        """Materialize df as parquet under a unique subdir; return the
        part-file paths relative to the table root.  Files become visible
        ONLY when a manifest referencing them commits."""
        sub = uuid.uuid4().hex
        out = os.path.join(self.data_dir, sub)
        df.write.parquet(out)
        rel = []
        for name in os.listdir(out):
            if name.endswith(".parquet"):
                rel.append(os.path.join("data", sub, name))
        return rel

    def append(self, df: DataFrame) -> int:
        new_files = self._write_files(df)
        return self._commit_with_retries(
            "append", lambda base_files: base_files + new_files,
            meta={"schema": df.schema.jsonValue()},
        )

    def overwrite(self, df: DataFrame) -> int:
        """Replace table contents; old versions stay readable (time
        travel) until vacuumed."""
        new_files = self._write_files(df)
        return self._commit_with_retries(
            "overwrite", lambda _base: new_files, meta={"schema": df.schema.jsonValue()}
        )

    def rollback(self, to_version: int) -> int:
        """Re-commit an old file list as the NEW current version —
        history stays append-only, nothing is deleted."""
        old = self.describe(to_version)
        meta = None if old.schema is None else {"schema": old.schema.jsonValue()}
        return self._commit_with_retries("rollback", lambda _base: old.files, meta=meta)

    # -- read paths ---------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None,
             schema: StructType | None = None) -> DataFrame:
        """The table at ``version`` (default: current), in ``schema``
        (default: the schema its commit recorded).  A known schema skips
        the footer-reading job Spark runs to infer one, which only a
        manifest written before commits recorded their schema still pays."""
        m = self.describe(version)
        if not m.files:
            raise FileNotFoundError(f"version {m.version} of {self.root} is empty")
        if schema is None:
            schema = m.schema
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*[os.path.join(self.root, f) for f in m.files])

    # -- streaming ----------------------------------------------------------

    def _meta(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh).get("meta", {})

    def committed_batch_ids(self, app_id: str = _DEFAULT_APP) -> set[int]:
        """Batch ids already landed by the streaming sink FOR THIS STREAM
        (scanning the retained manifests — vacuum keeps enough history
        for the checkpoint's replayable window).  Batch ids from other
        app ids never collide: Structured Streaming numbers batches per
        checkpoint, so id 3 of stream A and id 3 of stream B are
        unrelated batches."""
        out = set()
        for v in self.versions():
            try:
                m = self._meta(v)
            except FileNotFoundError:
                continue  # expired by a concurrent vacuum after listing
            b = m.get("batch_id")
            if b is not None and m.get("app_id", _DEFAULT_APP) == app_id:
                out.add(int(b))
        return out

    # Batch-id high-watermark: Structured Streaming batch ids are
    # monotonically increasing PER CHECKPOINT, so "batch_id <= watermark"
    # means "already committed" even after vacuum expired the manifest
    # that carried it — without this, a sufficiently delayed replay of a
    # vacuumed batch would pass the manifest-scan check and land twice.
    # The watermark is keyed by a stream identity (``app_id`` — Delta's
    # txn appId→version pattern, ADVICE r6): after a checkpoint reset, or
    # with a second stream writing the same table, the new stream's small
    # batch ids must NOT be swallowed by another stream's high watermark.

    @property
    def _watermark_file(self) -> str:
        return os.path.join(self.manifest_dir, "_batch_watermark.json")

    @staticmethod
    def _load_watermark_map(path: str) -> dict[str, int]:
        """Parse the watermark file; accepts the legacy single-stream
        format ``{"max_batch_id": N}`` as ``{_DEFAULT_APP: N}``."""
        try:
            with open(path) as fh:
                data = json.load(fh)
        except FileNotFoundError:
            return {}
        if "apps" in data:
            return {str(k): int(v) for k, v in data["apps"].items()}
        if "max_batch_id" in data:
            return {_DEFAULT_APP: int(data["max_batch_id"])}
        return {}

    def batch_watermarks(self) -> dict[str, int]:
        """Effective per-app high-watermarks: the watermark file
        max-merged with the (app_id, batch_id) metas of every RETAINED
        manifest.  The merge means a stale/regressed watermark file can
        never lower the effective value while the manifests that prove a
        higher commit still exist (ADVICE r6: a slow writer's os.replace
        landing after vacuum raised the file cannot re-open the
        double-commit window — vacuum's own raise happens before any
        manifest expires, and until then the manifests out-vote the file)."""
        out = self._load_watermark_map(self._watermark_file)
        for v in self.versions():
            try:
                m = self._meta(v)
            except FileNotFoundError:
                # expired by a concurrent vacuum after the listing; safe
                # to skip — vacuum raises the watermark file over every
                # manifest BEFORE dropping it, and our map was read
                # after... no: our map was read first.  Re-read the file
                # so the vacuum's raise (which happened before the drop)
                # is folded in, then skip the vanished manifest.
                for k, b2 in self._load_watermark_map(self._watermark_file).items():
                    out[k] = max(out.get(k, -1), b2)
                continue
            b = m.get("batch_id")
            if b is not None:
                app = m.get("app_id", _DEFAULT_APP)
                out[app] = max(out.get(app, -1), int(b))
        return out

    def batch_watermark(self, app_id: str = _DEFAULT_APP) -> int:
        """Highest stream batch id known committed by ``app_id``;
        survives manifest expiry (vacuum raises it before dropping
        manifests).  -1 if this stream never committed a batch."""
        return self.batch_watermarks().get(app_id, -1)

    @staticmethod
    def _lock_token(lock: str) -> str | None:
        try:
            with open(lock) as fh:
                return fh.read()
        except (FileNotFoundError, OSError):
            return None

    def _raise_batch_watermark(self, batch_id: int, app_id: str = _DEFAULT_APP) -> None:
        # Monotone max under contention: an O_EXCL lock file serializes
        # read+merge+replace, so a slow writer can never clobber the file
        # with a stale smaller map (ADVICE r6).  A crashed holder's lock
        # is stolen after a bounded wait.  The lock carries its holder's
        # uuid (ADVICE r7): a stalled writer whose lock was stolen must
        # neither publish its stale map (re-validate ownership before
        # os.replace) nor unlink the NEW holder's lock on the way out
        # (ownership-checked unlink) — otherwise a third writer is
        # admitted concurrently and, post-vacuum, the stale map could
        # land with no manifests left to out-vote it.
        import time

        lock = self._watermark_file + ".lock"
        token = uuid.uuid4().hex
        # Steal discipline (ADVICE r8): a bare time-based unlink lets two
        # waiters both past their deadline each unlink — the second one
        # removes the FIRST waiter's freshly created lock, admitting two
        # holders.  Steal only a lock whose TOKEN has been observed
        # unchanged for the full wait period: a fresh holder writes a
        # fresh token, which restarts the staleness clock for everyone.
        # The re-read immediately before unlink narrows the remaining
        # read→unlink window from "any time past deadline" to
        # microseconds.
        stale_token: str | None = None
        stale_since = time.time()
        acquired = False
        while not acquired:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                acquired = True
            except FileExistsError:
                holder = self._lock_token(lock)
                if holder is None:
                    continue  # lock vanished between open and read — retry
                if holder != stale_token:
                    # changed hands (or first sighting): restart the clock
                    stale_token, stale_since = holder, time.time()
                elif time.time() - stale_since > 10.0:
                    # same token stale for the full deadline: crashed
                    # holder.  Steal by ATOMIC RENAME into a
                    # thief-private name (ADVICE r9): rename is the only
                    # removal point, so exactly ONE of N waiters past
                    # their deadline grabs the file — the losers'
                    # renames raise FileNotFoundError and they rejoin
                    # the wait loop against whatever lock appears next.
                    # The token is verified AFTER the grab (no
                    # read→remove window); a mistakenly grabbed FRESH
                    # lock is restored via os.link, which fails EEXIST
                    # rather than clobbering a newer lock (an
                    # unrestorable displaced holder is still covered by
                    # the ownership-checked publish above).
                    grabbed = f"{lock}.steal-{token}"
                    try:
                        os.rename(lock, grabbed)
                    except (FileNotFoundError, OSError):
                        stale_token, stale_since = None, time.time()
                        continue
                    try:
                        with open(grabbed) as fh:
                            grabbed_token: str | None = fh.read()
                    except OSError:
                        grabbed_token = None
                    if grabbed_token != stale_token:
                        # mistakenly grabbed a FRESH lock — restore it.
                        # os.link fails EEXIST rather than clobbering a
                        # newer lock; on filesystems WITHOUT hard links
                        # (some NFS/object-store mounts — EPERM/ENOTSUP)
                        # fall back to rename guarded by a lock-absence
                        # check (ADVICE r10; the residual check→rename
                        # window is covered by the ownership-checked
                        # publish below), and log when the holder stays
                        # displaced instead of silently deleting it.
                        restored = False
                        try:
                            os.link(grabbed, lock)
                            restored = True
                        except FileExistsError:
                            # an EVEN NEWER holder already locked: the
                            # grabbed (displaced) holder cannot be put
                            # back — fall through with restored=False so
                            # the displacement is LOGGED, not silent
                            # (round-11 review finding #4); the
                            # ownership-checked publish below still
                            # protects the watermark itself
                            pass
                        except OSError:
                            try:
                                if not os.path.exists(lock):
                                    os.rename(grabbed, lock)
                                    restored = True
                            except OSError:
                                pass
                        if not restored:
                            import logging

                            logging.getLogger(__name__).warning(
                                "watermark lock steal raced a fresh holder on %s "
                                "and could not restore it; the displaced holder "
                                "is covered by the ownership-checked publish",
                                lock,
                            )
                    try:
                        os.unlink(grabbed)
                    except FileNotFoundError:
                        pass
                    stale_token, stale_since = None, time.time()
                    continue
                time.sleep(0.01)
        try:
            current = self._load_watermark_map(self._watermark_file)
            if int(batch_id) > current.get(app_id, -1):
                current[app_id] = int(batch_id)
                tmp = os.path.join(
                    self.manifest_dir, f".wm-{uuid.uuid4().hex}.json"
                )
                with open(tmp, "w") as fh:
                    json.dump({"apps": current}, fh)
                # re-validate right before publishing: if we stalled and
                # the lock was stolen, a newer holder's map may already
                # be current — dropping our update is safe (the thief
                # re-read the file after stealing, and the manifest
                # max-merge covers the remaining instruction-level window)
                if self._lock_token(lock) == token:
                    os.replace(tmp, self._watermark_file)
                else:
                    os.unlink(tmp)
        finally:
            # release with the same rename-grab discipline as the steal
            # path: plain check-then-unlink could remove a thief's fresh
            # lock if we stalled between the two calls (ADVICE r9)
            if self._lock_token(lock) == token:
                released = f"{lock}.rel-{token}"
                try:
                    os.rename(lock, released)
                except (FileNotFoundError, OSError):
                    released = None
                if released is not None:
                    if self._lock_token(released) != token:
                        try:
                            os.link(released, lock)
                        except OSError:
                            pass
                    try:
                        os.unlink(released)
                    except FileNotFoundError:
                        pass

    def migrate_default_app(
        self, app_id: str, committed_hint: int | None = None
    ) -> None:
        """One-time upgrade alias (ADVICE r7): pre-r7 stream commits
        carry no app_id and land under ``__default__``; a pipeline
        upgraded to app-scoped watermarks starts with watermark(-1) for
        its new app_id, so a Structured Streaming replay of an
        already-committed batch (same checkpoint, data landed, offsets
        not yet advanced) would append it a SECOND time.  Calling this
        when resuming an EXISTING checkpoint under a new app_id raises
        the app's watermark to the legacy ``__default__`` one, so the
        replayed old batch ids no-op exactly as they did pre-upgrade.

        Two guards keep the alias from swallowing FRESH batches
        (ADVICE r8 — checkpoint-dir existence alone is not enough,
        because every restart after the very first batch sees the dir):

        * first-resume only — once ``app_id`` has ANY watermark of its
          own, its batch-id sequence is live and aliasing a larger
          legacy id onto it would drop in-flight batches;
        * ``committed_hint`` (the max batch id found in the
          checkpoint's own offsets/commits log, see
          plans/pipeline.py) — the alias only applies when the
          checkpoint demonstrably PRODUCED ids reaching the legacy
          watermark.  A RESET checkpoint replaying small fresh ids
          0..k against a table whose legacy watermark is W>k fails
          this check and keeps its own sequence.
        """
        if app_id == _DEFAULT_APP:
            return
        wms = self.batch_watermarks()
        legacy = wms.get(_DEFAULT_APP, -1)
        if wms.get(app_id, -1) >= 0:
            return  # app already live under its own watermark
        if committed_hint is not None and committed_hint < legacy:
            return  # checkpoint never reached the legacy ids: reset stream
        if legacy > wms.get(app_id, -1):
            self._raise_batch_watermark(legacy, app_id)

    def _batch_already_committed(
        self, batch_id: int, app_id: str = _DEFAULT_APP
    ) -> bool:
        # batch_watermarks() already max-merges the retained manifests,
        # so the watermark comparison subsumes the manifest-scan check;
        # the explicit set membership stays as belt-and-braces for
        # hand-written manifests with gaps.
        return int(batch_id) <= self.batch_watermark(app_id) or (
            int(batch_id) in self.committed_batch_ids(app_id)
        )

    def stream_batch_committer(self, app_id: str = _DEFAULT_APP):
        """foreachBatch target giving EXACTLY-ONCE appends on top of the
        at-least-once replay Structured Streaming guarantees: the batch
        id rides in the manifest meta, so a replayed batch (post-crash,
        after data landed but before the checkpoint advanced) is
        recognized and skipped — same idempotence discipline as the
        native exactly-once sink (plans/pipeline.py), but with the
        version history (time travel / rollback) on top.

        ``app_id`` is the STREAM identity (pass the checkpoint location
        or query name — Delta's txn appId pattern): batch ids are only
        monotonic per checkpoint, so dedup state must be scoped to it.
        Two streams writing one table, or a stream restarted with a fresh
        checkpoint under a NEW app_id, interleave safely; reusing an old
        app_id after a checkpoint reset would wrongly skip the restarted
        stream's small batch ids.

        Usage: ``df.writeStream.foreachBatch(t.stream_batch_committer("q1"))``
        """

        def commit(batch_df: DataFrame, batch_id: int) -> None:
            if self._batch_already_committed(batch_id, app_id):
                return  # replayed batch — already committed
            new_files = self._write_files(batch_df)
            for _ in range(10):
                base = self.current_version()
                if self._batch_already_committed(batch_id, app_id):
                    return  # a racing replay of this same batch landed it
                try:
                    base_files = self.describe(base).files if base is not None else []
                except FileNotFoundError:
                    continue  # concurrent vacuum expired `base` — re-read
                try:
                    self._commit(
                        "stream-append", base_files + new_files, base,
                        meta={"batch_id": int(batch_id), "app_id": app_id,
                              "schema": batch_df.schema.jsonValue()},
                    )
                    self._raise_batch_watermark(int(batch_id), app_id)
                    return
                except CommitConflict:
                    continue
            raise CommitConflict(f"stream batch {batch_id} lost 10 commit races")

        return commit

    # -- maintenance --------------------------------------------------------

    def vacuum(
        self, keep_last: int = 2, grace_seconds: float = 24 * 3600.0
    ) -> list[str]:
        """Delete data files unreachable from the ``keep_last`` most
        recent manifests (and drop the older manifests).  Safe order:
        compute the retained file set FIRST, delete unreferenced data,
        then the expired manifests — a crash mid-vacuum leaves only
        extra files, never a manifest pointing at deleted data.

        Two extra safety rails (ADVICE r5):

        * data subdirectories younger than ``grace_seconds`` are SKIPPED
          — they may be a concurrent writer's staged-but-uncommitted
          files (``_write_files`` ran, manifest not linked yet);
          deleting them would let that commit succeed pointing at dead
          data.  Same idea as Delta's retention check.
        * before any manifest expires, the batch-id high-watermark is
          raised over ALL current manifests, so a delayed streaming
          replay of a vacuumed batch still no-ops (see
          :meth:`batch_watermark`).
        """
        import time

        vs = self.versions()
        if len(vs) <= keep_last:
            return []
        per_app: dict[str, int] = {}
        for v in vs:
            try:
                m = self._meta(v)
            except FileNotFoundError:
                continue  # a concurrent vacuum already expired (and
                # watermark-raised over) this manifest
            b = m.get("batch_id")
            if b is not None:
                app = m.get("app_id", _DEFAULT_APP)
                per_app[app] = max(per_app.get(app, -1), int(b))
        for app, b in per_app.items():
            self._raise_batch_watermark(b, app)
        keep_vs = vs[-keep_last:]
        keep_files = set()
        for v in keep_vs:
            try:
                keep_files.update(self.describe(v).files)
            except FileNotFoundError:
                continue  # expired under us by a concurrent vacuum whose
                # keep window was newer; carried-forward files are still
                # protected by the newest retained manifest + the
                # grace-window skip below
        # manifests may have been dropped under us as well — expire only
        # the ones still present
        now = time.time()
        removed = []
        for sub in os.listdir(self.data_dir):
            subdir = os.path.join(self.data_dir, sub)
            if now - os.path.getmtime(subdir) < grace_seconds:
                continue  # possibly an in-flight writer's staged files
            for name in os.listdir(subdir):
                rel = os.path.join("data", sub, name)
                if name.endswith(".parquet") and rel not in keep_files:
                    os.unlink(os.path.join(subdir, name))
                    removed.append(rel)
            if not os.listdir(subdir):
                shutil.rmtree(subdir, ignore_errors=True)
        for v in vs[:-keep_last]:
            try:
                os.unlink(self._manifest_path(v))
            except FileNotFoundError:
                pass  # the concurrent vacuum got there first
        return removed
