"""The one commit protocol every persisted structure shares: the keyed
sink's manifest, layout and snapshot sidecars, and the text, vector and
near-dup indexes' manifests.

A structure's live state is a small JSON sidecar. ``write_atomic`` replaces
it via a temp file and ``os.replace``, so a reader sees the old or the new
state, never a torn one. Writers serialize the read-check-replace under
``lock`` (an O_EXCL lock file in the structure's directory) and ``commit``
is the optimistic version check around it: a maintenance op that planned
from a version another commit has since moved past aborts with
``ConcurrentWriteError`` instead of silently dropping that commit. This is
the single-log optimistic commit Delta Lake (Armbrust et al., VLDB 2020)
uses for every table operation.

Files a commit displaces stay on disk for ``gc_grace()`` seconds
(``SPARK_GRAFT_SINK_GC_GRACE``, default 300) so a reader that planned from
the previous state can finish; ``roll_retired`` carries that ledger.
"""

from __future__ import annotations

import json
import os
import time
import uuid


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this write's snapshot read and its
    commit — the write was computed against stale state and must be
    retried against the new one."""


def read(path: str, name: str) -> dict | None:
    """The sidecar ``name`` under ``path``, or None when it does not exist."""
    try:
        with open(os.path.join(path, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write_atomic(path: str, name: str, obj: dict) -> None:
    """Atomic replace — a reader sees the old or the new sidecar, never a
    torn one."""
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, os.path.join(path, name))


def version(m: dict | None) -> int:
    """A sidecar's commit version (0 when there is none; pre-version
    sidecars count as 1)."""
    return int(m.get("version", 1)) if m else 0


LOCK_FILE = ".manifest_lock"
LOCK_STALE_SECONDS = 120.0
LOCK_WAIT_SECONDS = 30.0


class lock:
    """Filesystem mutex (O_EXCL create) serializing the manifest
    read-modify-write inside ``_publish`` — held for milliseconds, never
    across a Spark job or the vacuum's O(n_buckets) file sweep (which runs
    after release). A lock older than LOCK_STALE_SECONDS is treated as a
    crash leftover and broken.

    Each acquisition writes an OWNER TOKEN (uuid) into the lock file:

    * breaking a stale lock goes through ``os.rename`` to a unique name —
      an atomic claim, so when N waiters race to break the same stale lock
      exactly one wins the rename and the losers retry; the blind-unlink
      TOCTOU (two waiters both "break" it and both acquire) cannot happen.
      Because the staleness probe and the rename are two steps, the claim's
      age (mtime survives rename) is RE-CHECKED after the rename: a fresh
      lock that replaced the stale one in that window is restored via
      ``os.link`` (atomic, refuses to clobber a third writer's lock)
      instead of destroyed;
    * ``__exit__`` re-reads the file and unlinks only if it still holds
      this acquisition's token — if another writer broke our lock (e.g. we
      were paused past staleness) we must not release THEIR lock. Safety
      for the paused-writer case itself comes from the per-bucket
      optimistic conflict check in ``_publish``, not the lock.
    """

    def __init__(self, path: str):
        self.lock_path = os.path.join(path, LOCK_FILE)
        self.token = uuid.uuid4().hex

    def __enter__(self):
        deadline = time.time() + LOCK_WAIT_SECONDS
        while True:
            try:
                fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{self.token} {os.getpid()}".encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.lock_path)
                except FileNotFoundError:
                    continue
                if age > LOCK_STALE_SECONDS:
                    claim = f"{self.lock_path}.break-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(self.lock_path, claim)
                    except FileNotFoundError:
                        continue  # another waiter claimed it first
                    # the getmtime above and the rename are not atomic: the
                    # stale lock may have been broken AND re-acquired by
                    # another writer in between, in which case the file we
                    # just claimed is a FRESH lock we must not destroy.
                    # rename preserves mtime, so re-check on the claim.
                    try:
                        claimed_age = time.time() - os.path.getmtime(claim)
                    except FileNotFoundError:
                        continue
                    if claimed_age <= LOCK_STALE_SECONDS:
                        # stole a live lock — put it back atomically.
                        # os.link refuses if a third writer already
                        # re-created the path (EEXIST): then the rightful
                        # owner's __exit__ finds a foreign token and skips
                        # release, and write safety still rests on the
                        # per-bucket optimistic conflict check.
                        try:
                            os.link(claim, self.lock_path)
                        except FileExistsError:
                            pass
                        os.unlink(claim)
                        time.sleep(0.05)
                        continue
                    os.unlink(claim)
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"could not acquire {self.lock_path} within "
                        f"{LOCK_WAIT_SECONDS}s"
                    )
                time.sleep(0.05)

    def verify_owned(self) -> None:
        """Raise ``ConcurrentWriteError`` unless the lock file still holds
        this acquisition's token. Called immediately before the manifest
        replace: in the (probe→rename window)² race where a waiter
        destroys a just-re-acquired fresh lock, the dispossessed writer
        would otherwise proceed into the manifest read-modify-write
        concurrently with the new owner — for DISJOINT bucket sets the
        per-bucket conflict check cannot fire and the later write would
        silently drop the earlier one's live entries. This check shrinks
        the unprotected window from the whole merge to the microseconds
        between it and ``os.replace``, which a breaker cannot cross (a
        break requires LOCK_STALE_SECONDS of age).

        A MISSING lock file gets one short retry before aborting: a breaker
        that renamed away a just-re-acquired fresh lock restores it via
        ``os.link`` moments later, so the rightful owner can transiently
        observe no file at all. Without the retry that window aborts a
        healthy publish (fails closed — safe, but spurious)."""
        owner = self._read_owner()
        if owner is None:
            time.sleep(0.1)  # breaker's link-restore lands within ms
            owner = self._read_owner()
        if owner != self.token:
            raise ConcurrentWriteError(
                "publish lock was broken by another writer mid-publish; "
                "retry the upsert against the new table state"
            )

    def _read_owner(self) -> str | None:
        try:
            with open(self.lock_path) as f:
                return f.read().split()[0]
        except (FileNotFoundError, IndexError):
            return None

    def __exit__(self, *exc):
        owner = self._read_owner()
        if owner != self.token:
            return  # broken/taken by another writer; not ours to release
        try:
            os.unlink(self.lock_path)
        except FileNotFoundError:
            pass


def commit(path: str, name: str, new: dict, planned_from: dict | None) -> None:
    """Publish ``new`` as the sidecar ``name`` at version planned-from + 1.

    A maintenance op passes the sidecar it PLANNED from: under the lock,
    a live version other than that one means another writer committed in
    between, and this commit aborts with ``ConcurrentWriteError`` before
    any write. The check and the replace share the lock, so two racers
    whose checks both pass cannot both commit. ``planned_from=None`` (a
    build or rebuild, which defines a new generation by contract) writes
    unconditionally at live + 1: the version never resets, so an op that
    planned before the rebuild aborts instead of committing over it."""
    with lock(path) as lk:
        live = read(path, name)
        if planned_from is None:
            planned_from = live
        elif live is not None and version(live) != version(planned_from):
            raise ConcurrentWriteError(
                f"{name} at {path} was committed concurrently (version "
                f"{version(live)} != planned-from {version(planned_from)}); "
                "re-run this maintenance op against the new state"
            )
        new["version"] = version(planned_from) + 1
        lk.verify_owned()
        write_atomic(path, name, new)


def gc_grace() -> float:
    """Seconds a displaced file stays on disk for in-flight readers."""
    return float(os.environ.get("SPARK_GRAFT_SINK_GC_GRACE", "300"))


def roll_retired(manifest: dict, now: float, new_entry: dict | None) -> list[dict]:
    """The manifest's ``retired`` ledger rolled forward for a new commit:
    entries still inside the grace window are CARRIED (their files stay
    referenced, so GC keeps them); entries past it drop out, making their
    files sweepable by this commit's GC. ``new_entry`` records what THIS
    commit displaces, timestamped now; an entry that displaces nothing is
    not recorded.

    Grace is wall-clock, not maintenance-cycles: a reader that planned
    from the previous manifest keeps its files for at least the grace
    window even under a fast append/compact loop. Legacy ``prev_tf`` text
    manifests (the old one-cycle grace) convert to a retired entry stamped
    now — conservative: the grace restarts."""
    grace = gc_grace()
    retired = [
        e
        for e in manifest.get("retired", [])
        if now - float(e.get("ts", 0)) < grace
    ]
    if manifest.get("prev_tf"):
        retired.append({"ts": now, "tf": manifest["prev_tf"], "gens": []})
    if new_entry is not None and any(v for k, v in new_entry.items() if k != "ts"):
        retired.append(new_entry)
    return retired


def partition_files(root: str, col: str) -> dict[str, list[str]]:
    """``{"<col>=<v>": [sorted parquet files]}`` for the partition dirs
    under ``root`` ({} when ``root`` does not exist)."""
    if not os.path.isdir(root):
        return {}
    return {
        d: sorted(
            f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")
        )
        for d in os.listdir(root)
        if d.startswith(f"{col}=") and os.path.isdir(os.path.join(root, d))
    }
