"""Snapshot table layout — Iceberg/Delta-style versioned reads over
plain parquet, with write-audit-publish.

Why a lake needs this: a directory of parquet files has no atomicity
(readers see half-written data), no history (yesterday's table is
gone), and no safe audit step (bad data is live the instant it lands).
The snapshot layout fixes all three with two ideas the table formats
share:

* **data files are immutable** — every commit writes a fresh
  ``data/s<N>/`` file set and never touches existing files;
* **state is a manifest + one pointer** — ``metadata/snap-<N>.json``
  lists the exact data files of snapshot N, and ``metadata/_latest``
  names the published snapshot.  Publishing is a single atomic
  rename, so readers always see a complete snapshot, never a
  partial write.

Scale notes: the reader plans its scan from the manifest's file list
(``spark.read.parquet(*files)``) — no directory walk, no eventual-
consistency listing races, and a 1000-executor scan of a million-file
table starts from one small JSON read.  Snapshot isolation is free:
a long job pins the manifest it started with while writers race
ahead.  Real Iceberg splits manifests into a tree and tracks
per-file column stats for pruning; this layout keeps the semantics
(atomic commits, time travel, WAP, expiry) with one manifest level.

Optimistic concurrency: a commit allocates ``max(existing)+1`` and
creates its manifest with O_EXCL — two racing writers cannot both
win the same snapshot id; the loser retries on a fresh id.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from decision_tree_analytics_spark.session import prepare_session

_LATEST = "_latest"
# spark-warehouse/ at the root of the checkout this package runs from.
CHECKOUT_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


def snapshot_root() -> str:
    """The one place the snapshot-store root is resolved — every
    fixture/cache that publishes a SnapshotTable (dedup component
    labels, the cdc events fixtures) must use this so an env override
    or a default change moves them all together."""
    return os.environ.get(
        "SPARK_GRAFT_SNAPSHOT_DIR", os.path.join(CHECKOUT_WAREHOUSE, "snapshots")
    )


class NoPublishedSnapshot(RuntimeError):
    pass


class SnapshotNotFound(RuntimeError):
    pass


class CorruptSnapshotManifest(RuntimeError):
    """A manifest file with CONTENT that does not parse — unlike an
    empty torn claim this may be a damaged COMMITTED snapshot, so
    nothing may treat it as absent or garbage-collect it; surface it
    for repair."""


class ConcurrentStagedCommit(RuntimeError):
    """A staged commit on an unpublished table found a YOUNG torn
    claim below its id — another writer is likely mid-commit, and
    chaining past it would silently omit its rows.  Retry once the
    racer finishes (or its claim ages past the orphan grace)."""


class StaleCompaction(RuntimeError):
    """compact() found the published snapshot moved while it was
    rewriting — publishing the rewrite would clobber a newer commit's
    rows from the published view.  The staged rewrite is left
    unpublished (expire ages it out); retry compaction against the
    new tip.  Iceberg's RewriteFiles makes the same validate-current-
    snapshot check: peer WRITERS may race last-publish-wins, but
    MAINTENANCE must never un-publish data."""


# One age threshold decides 'crashed writer, reclaim/skip' vs 'maybe
# still in flight, hands off' everywhere (expire + staged-parent
# selection) — Iceberg's remove-orphan-files makes the same
# older-than call, and mtime/last-modified is the one timestamp an
# object store exposes for it.
ORPHAN_GRACE_SECONDS = 86400.0


class SnapshotTable:
    """A versioned parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        prepare_session(spark)
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- metadata ---------------------------------------------------
    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{sid:05d}.json")

    def snapshot_ids(self) -> list[int]:
        return sorted(
            int(f[5:10])
            for f in os.listdir(self.meta_dir)
            if f.startswith("snap-") and f.endswith(".json")
        )

    def manifest(self, sid: int) -> dict:
        p = self._manifest_path(sid)
        # One open, no exists-probe: an exists-then-open pair has a
        # window where concurrent maintenance (expire of this very
        # manifest) turns the open into a raw FileNotFoundError that
        # _valid_manifests()/readers would not recognize — map the
        # absence at the only syscall that can observe it.
        try:
            with open(p) as fh:
                raw = fh.read()
        except FileNotFoundError:
            raise SnapshotNotFound(
                f"snapshot {sid} does not exist at {self.path}"
            ) from None
        if not raw.strip():
            # An O_EXCL claim whose writer died (or is still writing)
            # before the manifest content landed — a TORN claim is not
            # a snapshot.  Readers/maintenance treat it as absent; the
            # id itself stays burned (snapshot_ids lists the claim
            # file) so a new commit can never collide with it.  The
            # manifest blob lands in one write, so 'torn' is exactly
            # 'empty' — anything non-empty that fails to parse is
            # CORRUPTION of possibly-committed state and must never be
            # treated as absent (or garbage-collected).
            raise SnapshotNotFound(
                f"snapshot {sid} is a torn claim (no manifest content)"
                f" at {self.path}"
            )
        try:
            return json.loads(raw)
        except json.JSONDecodeError as e:
            raise CorruptSnapshotManifest(
                f"snapshot {sid} manifest has unparseable content at"
                f" {self.path} — possibly a damaged committed snapshot;"
                f" repair it, do not expire: {e}"
            ) from e

    def _valid_manifests(self) -> list[tuple[int, dict]]:
        """(sid, manifest) for every snapshot whose manifest parses —
        torn claims (empty files from a crashed/in-flight writer) are
        excluded; CORRUPT non-empty manifests propagate loudly.
        Allocation must keep using snapshot_ids() (ALL claims) or a
        new commit could collide with a live writer's claimed id."""
        out = []
        for s in self.snapshot_ids():
            try:
                out.append((s, self.manifest(s)))
            except SnapshotNotFound:
                continue
        return out

    def valid_ids(self) -> list[int]:
        """ids of every snapshot with a parseable manifest — the
        READABLE history.  Torn claims (empty files from a crashed or
        in-flight writer) are excluded; corrupt non-empty manifests
        raise.  Anything deriving table STATE (readiness checks,
        which version is v1/v2, what to publish) must use this, never
        ``snapshot_ids()`` — the raw claim list exists only so id
        allocation can never collide with a live writer."""
        return [s for s, _m in self._valid_manifests()]

    def latest_id(self) -> int:
        p = os.path.join(self.meta_dir, _LATEST)
        # Same single-open rule as manifest(): no exists-then-open
        # window for a pointer vanishing between the two calls.
        try:
            with open(p) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            raise NoPublishedSnapshot(
                f"no published snapshot at {self.path}"
            ) from None

    def history(self) -> list[dict]:
        return [m for _s, m in self._valid_manifests()]

    # -- commit -----------------------------------------------------
    def _write_files(self, df: DataFrame, sid: int) -> list[str]:
        out = os.path.join(self.data_dir, f"s{sid:05d}")
        # The caller holds the O_EXCL claim on sid, so a pre-existing
        # directory can only be debris from a crashed/aborted writer
        # whose claim was released or reclaimed: no manifest can
        # reference data/s<sid> unless claim sid committed, and a
        # committed claim would have made our O_EXCL create fail.
        # Without this, a reclaimed torn claim whose id gets reused
        # fails every subsequent commit with PATH_ALREADY_EXISTS.
        if os.path.isdir(out):
            shutil.rmtree(out)
        df.write.mode("error").parquet(out)
        rel = []
        for root, _dirs, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(root, f)
                    rel.append(os.path.relpath(full, self.path))
        return sorted(rel)

    def _commit(self, df: DataFrame, operation: str, publish: bool) -> int:
        for _ in range(5):
            ids = self.snapshot_ids()
            sid = (ids[-1] if ids else 0) + 1
            try:
                # O_EXCL claims the id before any heavy work; a racing
                # writer loses the create and retries on a fresh id.
                fd = os.open(
                    self._manifest_path(sid),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                continue
            try:
                parent: int | None = None
                base: list[str] = []
                if self._published():
                    parent = self.latest_id()
                    if operation == "append":
                        base = self.manifest(parent)["files"]
                else:
                    # Chain from the last VALID staged snapshot — a
                    # torn claim (crashed writer) must not be the
                    # parent (its manifest has no file list).  Only an
                    # APPEND additionally refuses young torn claims
                    # above its parent: an append incorporates the
                    # parent's files, so chaining past a LIVE racer
                    # mid-commit would silently omit its rows; an
                    # overwrite contains only df's files, and blocking
                    # it would turn any crashed first build of the
                    # self-healing WAP tables into a grace-long outage
                    # (review finding).
                    while True:
                        staged = {
                            s: m
                            for s, m in self._valid_manifests()
                            if s < sid
                        }
                        parent = max(staged) if staged else None
                        if parent is not None and operation == "append":
                            base = staged[parent]["files"]
                        if operation != "append":
                            break
                        now = time.time()
                        racer_finished = False
                        for other in ids:
                            if other in staged or (
                                parent is not None and other < parent
                            ):
                                # Torn claims BELOW the parent are
                                # already superseded by the chain.
                                continue
                            p_other = self._manifest_path(other)
                            # Re-check torn-ness at decision time: the
                            # racer may have aborted (claim gone) or
                            # finished (content landed) since the
                            # listing (review finding).
                            try:
                                st = os.stat(p_other)
                            except FileNotFoundError:
                                continue  # racer aborted, claim freed
                            if st.st_size > 0:
                                racer_finished = True  # now a valid parent
                                break
                            if now - st.st_mtime < ORPHAN_GRACE_SECONDS:
                                raise ConcurrentStagedCommit(
                                    f"staged snapshot {other} at "
                                    f"{self.path} is claimed but "
                                    f"unwritten — another writer is "
                                    f"likely mid-commit"
                                )
                        if not racer_finished:
                            break  # parent selection is stable
                new_files = self._write_files(df, sid)
                manifest = {
                    "snapshot_id": sid,
                    "parent_id": parent,
                    "operation": operation,
                    "committed_at": time.time(),
                    "files": base + new_files,
                    "summary": {"added_files": len(new_files)},
                }
                blob = json.dumps(manifest, indent=1).encode()
                # Loop to completion + fsync: a SHORT write would
                # leave a non-empty unparseable manifest, which the
                # torn/corrupt split deliberately treats as damaged
                # COMMITTED state — the blob must land whole or the
                # except-path below must erase the claim entirely,
                # preserving the empty-or-complete invariant.
                off = 0
                while off < len(blob):
                    n = os.write(fd, blob[off:])
                    if n <= 0:
                        raise OSError(
                            f"short write on snapshot {sid} manifest"
                            f" at {self.path}"
                        )
                    off += n
                os.fsync(fd)
            except BaseException:
                os.close(fd)
                os.remove(self._manifest_path(sid))  # release the claim
                # Best-effort: drop any data this aborted commit
                # already landed (its sid is freed with the claim, so
                # leftovers would otherwise linger as orphan debris).
                shutil.rmtree(
                    os.path.join(self.data_dir, f"s{sid:05d}"),
                    ignore_errors=True,
                )
                raise
            else:
                os.close(fd)
            if publish:
                self.publish(sid)
            return sid
        raise RuntimeError("snapshot id allocation kept colliding")

    def _published(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, _LATEST))

    def append(self, df: DataFrame, publish: bool = True) -> int:
        """Commit a new snapshot = published files + df's files."""
        return self._commit(df, "append", publish)

    def overwrite(self, df: DataFrame, publish: bool = True) -> int:
        """Commit a new snapshot containing only df's files."""
        return self._commit(df, "overwrite", publish)

    def publish(self, sid: int) -> None:
        """Atomically move the table pointer to snapshot ``sid`` —
        the write-audit-**publish** step (also: rollback)."""
        self.manifest(sid)  # must exist
        tmp = os.path.join(self.meta_dir, f"._latest.{sid}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(sid))
        os.replace(tmp, os.path.join(self.meta_dir, _LATEST))

    rollback = publish

    # -- read -------------------------------------------------------
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """The table as of ``snapshot_id`` (default: published
        latest).  Plans from the manifest file list — never lists
        directories."""
        sid = self.latest_id() if snapshot_id is None else snapshot_id
        files = self.manifest(sid)["files"]
        if not files:
            raise SnapshotNotFound(f"snapshot {sid} has no data files")
        return self.spark.read.parquet(*[os.path.join(self.path, f) for f in files])

    def read_incremental(self, from_sid: int, to_sid: int) -> DataFrame:
        """Iceberg-style incremental scan: only the rows in data files
        that ``to_sid`` references and ``from_sid`` does not.  Plans
        from the manifest DIFFERENCE — the consumer pays for the delta,
        never a full-table diff (append-only tables: the delta IS the
        new data; overwrites surface the whole rewritten file set)."""
        before = set(self.manifest(from_sid)["files"])
        delta = [f for f in self.manifest(to_sid)["files"] if f not in before]
        if not delta:
            return self.read(to_sid).limit(0)
        return self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in delta]
        )

    # -- maintenance ------------------------------------------------
    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """OPTIMIZE: rewrite the published file set into ~target-sized
        files as a new overwrite snapshot, atomically published.  The
        rewrite is a shuffle-free coalesce (compaction is IO-bound);
        prior snapshots keep their original files, so time travel
        across the compaction boundary still works until expire()
        reclaims them.

        The base snapshot is pinned ONCE: sizing, the rewrite read,
        and the publish all refer to the same version (three separate
        latest_id() reads would let a concurrent publish mix versions
        mid-compaction).  If the published tip moved while the rewrite
        ran, publishing would drop the newer commit's rows from the
        published view — StaleCompaction instead; the staged rewrite
        stays unpublished for expire() to age out, and the caller
        retries against the new tip.  (The residual check-to-rename
        window is microseconds vs the rewrite's duration; full
        serialization would need a compare-and-swap pointer, which is
        the catalog's job in real Iceberg.)"""
        base = self.latest_id()  # must have a published snapshot
        total = sum(
            os.path.getsize(os.path.join(self.path, f))
            for f in self.manifest(base)["files"]
        )
        n_files = max(1, round(total / target_file_bytes))
        sid = self.overwrite(self.read(base).coalesce(n_files), publish=False)
        if self.latest_id() != base:
            raise StaleCompaction(
                f"published snapshot moved {base} -> {self.latest_id()} "
                f"during compaction at {self.path}; staged rewrite "
                f"{sid} left unpublished — retry against the new tip"
            )
        self.publish(sid)
        return sid

    def expire(
        self,
        keep_last: int = 1,
        orphan_grace_seconds: float = ORPHAN_GRACE_SECONDS,
    ) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots (never the
        published one) and delete data files no kept snapshot
        references.  Returns the deleted paths.

        Files an EXPIRED manifest referenced are known-dead and go
        immediately.  Everything referenced by NO manifest at all —
        torn (empty) claim files and unreferenced data files — may
        belong to a crashed writer OR to a commit still in flight (a
        live writer's claim is empty until its data lands), so it is
        only reclaimed once older than ``orphan_grace_seconds``
        (Iceberg's remove-orphan-files makes the same age-gated call
        for the same reason; mtime/last-modified is the one timestamp
        an object store exposes for this).  An aged torn claim and
        its ``data/s<NN>`` directory reclaim AS A UNIT, the age gate
        applied to both: if the directory's contents are still young
        (or change mid-probe) the CLAIM is kept too, so the id can
        never be freed while a pathologically slow live writer is
        still landing data — and once both are cold they go together,
        so a later commit reusing the freed id never collides with
        the dead writer's leftovers.  A NON-empty manifest that
        fails to parse is possible corruption of committed state:
        expire refuses to run (CorruptSnapshotManifest) rather than
        ever garbage-collecting it."""
        now = time.time()
        ids = self.snapshot_ids()
        manifests = dict(self._valid_manifests())  # corrupt => raises
        valid = sorted(manifests)
        keep = set(valid[-keep_last:]) if keep_last else set()
        if self._published():
            keep.add(self.latest_id())
        live: set[str] = set()
        for s in keep:
            if s not in manifests:
                # The published tip may have MOVED after the listing
                # (a racing commit+publish lands in the gap): re-read
                # its manifest at decision time instead of crashing on
                # the stale dict — and, crucially, count its files as
                # live so the orphan walk below can never reclaim a
                # just-published snapshot's data.  A sid that is truly
                # absent (pointer to an expired/never-existed id)
                # still raises.
                try:
                    manifests[s] = self.manifest(s)
                except SnapshotNotFound:
                    raise SnapshotNotFound(
                        f"published snapshot {s} has no readable"
                        f" manifest at {self.path}"
                    ) from None
            live.update(manifests[s]["files"])
        deleted = []
        dead: set[str] = set()  # files of manifests removed below
        for s in valid:
            if s not in keep:
                # The manifest's files are dead whether or not WE win
                # the removal — a concurrent expire may have reclaimed
                # the manifest between our listing and this remove, and
                # crashing the loser mid-maintenance would leave its
                # remaining expired manifests and orphan walk undone.
                dead.update(manifests[s]["files"])
                try:
                    os.remove(self._manifest_path(s))
                except FileNotFoundError:
                    continue  # a racing expire reclaimed it first
                deleted.append(self._manifest_path(s))
        # Data dirs of torn claims the unit gate below decides to KEEP
        # are off-limits to the final orphan-file walk too — otherwise
        # the walk would delete a kept dir's aged files out from under
        # the live slow writer the gate just protected (review
        # finding).
        protected_dirs: list[str] = []
        for s in ids:
            if s in valid:
                continue  # torn claims only from here
            p = self._manifest_path(s)
            # Re-check at decision time: a racing writer may have
            # aborted (claim gone) or finished (content landed) since
            # the listing — tolerate both instead of crashing
            # mid-maintenance or deleting a just-committed snapshot.
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            ddir = os.path.join(self.data_dir, f"s{s:05d}")
            if st.st_size > 0:
                continue  # committed since the listing — not torn
            if now - st.st_mtime < orphan_grace_seconds:
                protected_dirs.append(ddir + os.sep)
                continue
            # Reclaim the claim and its data/s<NN> directory AS A
            # UNIT, BOTH under the age gate (incl. _temporary/
            # _SUCCESS/.crc debris the parquet-file walk below never
            # touches).  The unit matters: freeing the ID while young
            # data is still landing would hand the id to a new writer
            # whose _write_files clears the LIVE writer's output (and
            # could then walk the live writer's late-landed files
            # into its own manifest) — a >grace-old claim whose files
            # are fresh, or whose files vanish mid-probe (a rename
            # out of _temporary IS a live task commit), keeps claim
            # AND data until a later expire finds them both cold.  No
            # manifest can reference data/s<NN> while claim NN is
            # torn (committing NN is the only way its paths enter a
            # file list), so once both pass the gate the directory is
            # pure debris; leaving it would fail a later commit that
            # reuses the freed id.
            newest = st.st_mtime
            contents: list[str] = []
            live_writer = False
            if os.path.isdir(ddir):
                for r, _d, fs in os.walk(ddir):
                    for f in fs:
                        full_f = os.path.join(r, f)
                        contents.append(full_f)
                        try:
                            newest = max(newest, os.path.getmtime(full_f))
                        except FileNotFoundError:
                            live_writer = True
            if live_writer or now - newest < orphan_grace_seconds:
                protected_dirs.append(ddir + os.sep)
                continue  # hands off claim AND data this run
            # The dir probe took real time: re-check the claim is
            # STILL torn immediately before the destructive pair —
            # only the original claim holder can turn it into a
            # manifest (O_EXCL bars everyone else), and a slow holder
            # may have finally committed (review finding; the same
            # decision-time re-stat rule the claim listing uses).
            try:
                if os.path.getsize(p) > 0:
                    continue  # it committed — a real snapshot now
            except FileNotFoundError:
                continue  # another maintenance run beat us to it
            if os.path.isdir(ddir):
                try:
                    shutil.rmtree(ddir)
                except OSError:
                    continue  # concurrent change — retry next run
                deleted.extend(contents)
                deleted.append(ddir)
            try:
                os.remove(p)
            except FileNotFoundError:
                continue  # concurrent expire already reclaimed it
            deleted.append(p)
        for root, _dirs, files in os.walk(self.data_dir):
            for f in files:
                full = os.path.join(root, f)
                if any(full.startswith(d) for d in protected_dirs):
                    continue  # a kept torn-claim dir — unit gate owns it
                rel = os.path.relpath(full, self.path)
                if not f.endswith(".parquet") or rel in live:
                    continue
                try:
                    aged = now - os.path.getmtime(full) >= orphan_grace_seconds
                except FileNotFoundError:
                    continue  # vanished mid-walk — someone live owns it
                if rel in dead or aged:
                    try:
                        os.remove(full)
                    except FileNotFoundError:
                        continue
                    deleted.append(full)
        return deleted
