"""Table IO and the index's one commit point: an atomic manifest of
immutable bucket versions.

Layout under the warehouse root::

    <table>/bucket=B/v=<version>/...   one immutable version of bucket B
    _manifest/<seq>.json               one file per commit, never rewritten
    _stage/<version>/bucket=B/...      the build-only stage (extracted text)

Every write (a build bucket, append, delete, compaction) writes NEW version
directories and never changes an existing file. It then publishes manifest
``seq + 1``: a temp file hard-linked to its final name with ``os.link``,
which fails if another writer already took that sequence number. A manifest
holds the live bucket -> version map of ``docs``, ``postings`` and
``blooms``, the global statistics (n_docs, sum_dl, avgdl,
max_doc_id, p_logical, tp_n, format), the version of an unfinished build's
stage and the commit's lineage record. This is Iceberg's model
(https://iceberg.apache.org/spec/): write new files, then swap the metadata
atomically. A reader pins one manifest and reads that manifest's explicit
directory list, so a concurrent commit is either fully visible to it or not
at all, and an uncommitted write is invisible.

Retired versions stay on disk for ``VACUUM_GRACE_MINUTES`` after the commit
that retired them, so readers pinned to an older manifest finish; the vacuum
at the end of each commit then deletes them and the superseded manifests.

The stage (index_build.stage_docs) holds the extracted, numbered rows
(doc_id, url, dl, text, bucket) between extraction and the bucket encodes:
the index itself stores no text. A build records its stage in the manifest
so that resume reads it back; the commit that completes the build retires
it and deletes it at once, since no reader pins a stage. An append stages
its own rows and deletes them when it ends; the vacuum removes a stage left
behind by a crashed append once the grace period has passed.

A term's document frequency is not stored apart from the postings: it is
the sum of ``n_docs`` over the term's blocks (term_dfs).

Every table is sorted plain parquet in every warehouse (row-group min/max
stats give the scan-time pruning): ``postings`` (with ``tp=T/`` below each
version), ``docs`` (the one per-document table: doc_id, url, dl, every file
sorted by doc_id) and ``blooms``; the stage is plain parquet too. The
manifest follows Iceberg's table model, not its file format or catalog.

All writers take sorted DataFrames and never repartition — layout decisions
belong to the build job, not the sink.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the tables of one bucket version, all under one version id
INDEX_TABLES = ("docs", "postings", "blooms")
MANIFEST_DIR = "_manifest"
STAGE_DIR = "_stage"
# Retired versions and superseded manifests are kept this long, so a reader
# pinned to an older manifest never loses a file mid-query.
VACUUM_GRACE_MINUTES = 10


def _now() -> float:
    return time.time()


_KEEP = object()  # Catalog.commit: leave the manifest's stage as it is


class CommitConflict(RuntimeError):
    """Another writer committed since this write read its base manifest."""


class Snapshot:
    """One published manifest plus the driver-side caches derived from it.
    Immutable data, so the caches never need invalidating: a new commit is a
    new Snapshot."""

    def __init__(self, seq: int, manifest: dict):
        self.seq = seq
        self.manifest = manifest
        self.tables: dict[str, dict[int, str]] = {
            t: {int(b): v for b, v in manifest.get("tables", {}).get(t, {}).items()} for t in INDEX_TABLES
        }
        self.stats: dict | None = manifest.get("stats")
        self.stage: str | None = manifest.get("stage")
        self.term_df: dict[str, int] = {}
        # reusing a DataFrame reuses its file index: a warm query skips the
        # directory listing (~0.2-0.4 s of single-query latency)
        self.dfs: dict[str, DataFrame] = {}
        # (table, bucket, subdirectory) -> its parquet files (version_files)
        self.files: dict[tuple[str, int, str], list[str]] = {}


class Catalog:
    """Warehouse of named tables rooted at a directory: manifest-pinned
    parquet bucket versions."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._snap: Snapshot | None = None
        self._pin = threading.local()
        # serializes this catalog's commits (build bucket pipelines commit
        # from several threads); any other writer on the warehouse loses at
        # os.link instead
        self._commit_lock = threading.Lock()
        self._term_df_cap = 1_000_000  # bound driver memory (~50 MB of strings)

    # --- the manifest ---------------------------------------------------------

    def _manifest_seqs(self) -> list[int]:
        try:
            names = os.listdir(self.path(MANIFEST_DIR))
        except FileNotFoundError:
            return []
        return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())

    def _manifest_path(self, seq: int) -> str:
        return os.path.join(self.path(MANIFEST_DIR), f"{seq}.json")

    def index_version(self) -> int:
        """Sequence number of the latest manifest (0: none) — one directory
        listing, no Spark job."""
        seqs = self._manifest_seqs()
        return seqs[-1] if seqs else 0

    def snapshot(self) -> Snapshot:
        """The calling thread's pinned snapshot, else the latest one."""
        pinned = getattr(self._pin, "snap", None)
        if pinned is not None:
            return pinned
        seq = self.index_version()
        snap = self._snap
        if snap is None or snap.seq != seq:
            manifest = {}
            if seq:
                with open(self._manifest_path(seq)) as f:
                    manifest = json.load(f)
            snap = self._snap = Snapshot(seq, manifest)
        return snap

    @contextlib.contextmanager
    def pinned(self):
        """Pin one snapshot for every read this thread makes inside the
        block (nested blocks keep the outer pin)."""
        if getattr(self._pin, "snap", None) is not None:
            yield self._pin.snap
            return
        self._pin.snap = self.snapshot()
        try:
            yield self._pin.snap
        finally:
            self._pin.snap = None

    def committed_buckets(self) -> set[int]:
        """Buckets whose postings are committed — the unit resume, the
        append freshness guard and delete's candidate set work on."""
        return set(self.snapshot().tables["postings"])

    def new_version(self) -> str:
        """A fresh version id: creation time (readable) plus a random tag.
        Never all digits, so partition discovery keeps it a string."""
        return time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + "-" + uuid.uuid4().hex[:8]

    def version_path(self, name: str, bucket: int, version: str) -> str:
        return os.path.join(self.path(name), f"bucket={int(bucket)}", f"v={version}")

    def version_dirs(self, name: str) -> dict[int, str]:
        """bucket -> live version directory of ``name`` in the snapshot."""
        return {b: self.version_path(name, b, v) for b, v in self.snapshot().tables[name].items()}

    def version_files(self, name: str, bucket: int, sub: str = "") -> list[str]:
        """Sorted parquet files of ``name``'s live version of ``bucket``, in
        its subdirectory ``sub`` (e.g. ``tp=3``; none if absent). Memoized
        on the snapshot — a version is immutable — so a warm driver-side
        query lists no directory."""
        snap = self.snapshot()
        key = (name, bucket, sub)
        files = snap.files.get(key)
        if files is None:
            d = os.path.join(self.version_path(name, bucket, snap.tables[name][bucket]), sub)
            files = snap.files[key] = sorted(glob.glob(os.path.join(d, "*.parquet")))
        return files

    def commit(
        self,
        lineage: dict,
        tables: dict[str, dict[int, str | None]] | None = None,
        stats: dict | None = None,
        base: Snapshot | None = None,
        stage=_KEEP,
    ) -> Snapshot:
        """Publish the next manifest: ``tables`` maps table -> {bucket:
        version, or None to drop the bucket}; ``stats`` replaces the global
        statistics; ``stage`` (a stage version, or None) replaces the
        build's stage, and a stage it replaces is deleted right after the
        commit. With ``base``, the commit fails (CommitConflict) unless
        ``base`` is still the latest manifest — the write derived its
        statistics from it. Ends with the vacuum."""
        from . import INDEX_FORMAT

        with self._commit_lock:
            cur = self._latest()
            if base is not None and base.seq != cur.seq:
                raise CommitConflict(
                    f"manifest moved from {base.seq} to {cur.seq} during this write; retry it"
                )
            now = _now()
            live = {t: dict(cur.tables[t]) for t in INDEX_TABLES}
            retired = [tuple(r) for r in cur.manifest.get("retired", [])]
            touched = []
            for t, changes in (tables or {}).items():
                for b, v in changes.items():
                    old = live[t].pop(int(b), None)
                    if v is not None:
                        live[t][int(b)] = v
                    touched.append((t, int(b)))
                    if old is not None and old != v:
                        retired.append((t, int(b), old, now))
            cutoff = now - VACUUM_GRACE_MINUTES * 60
            expired = [r for r in retired if r[3] < cutoff]
            manifest = {
                "format": INDEX_FORMAT,
                "seq": cur.seq + 1,
                "committed_at": now,
                "stats": dict(stats, format=INDEX_FORMAT) if stats is not None else cur.stats,
                "tables": {t: {str(b): v for b, v in sorted(live[t].items())} for t in INDEX_TABLES},
                "stage": cur.stage if stage is _KEEP else stage,
                "lineage": lineage,
                "retired": [list(r) for r in retired if r[3] >= cutoff],
            }
            os.makedirs(self.path(MANIFEST_DIR), exist_ok=True)
            tmp = os.path.join(self.path(MANIFEST_DIR), f".{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            try:
                os.link(tmp, self._manifest_path(cur.seq + 1))
            except FileExistsError:
                raise CommitConflict(
                    f"manifest {cur.seq + 1} was committed by another writer; retry this write"
                ) from None
            finally:
                os.remove(tmp)
            snap = self._snap = Snapshot(cur.seq + 1, manifest)
            if cur.stage is not None and cur.stage != snap.stage:
                self.drop_stage(cur.stage)
            self._vacuum(snap, expired, touched, cutoff)
            return snap

    def _latest(self) -> Snapshot:
        pinned, self._pin.snap = getattr(self._pin, "snap", None), None
        try:
            return self.snapshot()
        finally:
            self._pin.snap = pinned

    def _vacuum(self, snap: Snapshot, expired: list, touched: list, cutoff: float) -> None:
        """Delete what no reader can still need: versions retired before
        ``cutoff``; in the buckets this commit touched, version directories
        no manifest references that are older than ``cutoff`` (left by a
        crashed write); stages other than the manifest's that are older
        than ``cutoff`` (left by a crashed append); and manifests
        superseded before ``cutoff``."""
        for t, b, v, _ in expired:
            shutil.rmtree(self.version_path(t, b, v), ignore_errors=True)
        retired = {(t, b, v) for t, b, v, _ in snap.manifest["retired"]}
        for t, b in set(touched) | {(t, b) for t, b, _, _ in expired}:
            bdir = os.path.dirname(self.version_path(t, b, "x"))
            try:
                names = os.listdir(bdir)
            except FileNotFoundError:
                continue
            for n in names:
                v, p = n[2:], os.path.join(bdir, n)
                if n.startswith("v=") and snap.tables[t].get(b) != v and (t, b, v) not in retired:
                    with contextlib.suppress(FileNotFoundError):
                        if os.path.getmtime(p) < cutoff:
                            shutil.rmtree(p, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(bdir)  # only succeeds once the bucket has no version left
        try:
            stages = os.listdir(self.path(STAGE_DIR))
        except FileNotFoundError:
            stages = []
        for v in stages:
            with contextlib.suppress(FileNotFoundError):
                if v != snap.stage and os.path.getmtime(self.stage_path(v)) < cutoff:
                    self.drop_stage(v)
        seqs = self._manifest_seqs()
        for seq, successor in zip(seqs, seqs[1:]):
            with contextlib.suppress(FileNotFoundError):
                if os.path.getmtime(self._manifest_path(successor)) < cutoff:
                    os.remove(self._manifest_path(seq))

    # --- global statistics and metadata caches --------------------------------

    def _stats(self) -> dict:
        """The snapshot's global statistics. Also the index-format gate: an
        index written by an incompatible engine version (or one without a
        manifest) fails HERE with a clear rebuild-required message instead
        of a column-not-found error deep in a query plan."""
        from . import INDEX_FORMAT

        st = self.snapshot().stats
        fmt = st.get("format") if st else None
        if fmt != INDEX_FORMAT:
            raise RuntimeError(
                f"index format mismatch: this warehouse is format "
                f"{fmt if fmt is not None else '<pre-v6 (no manifest)>'} "
                f"but the engine reads format {INDEX_FORMAT}; the physical "
                "layout changed incompatibly — rebuild the index "
                "(operators.index_build.build_index) to use it"
            )
        return st

    def global_doc_stats(self) -> tuple[int, int, int]:
        """(n_docs, sum_dl, max_doc_id) of the snapshot."""
        st = self._stats()
        return int(st["n_docs"]), int(st["sum_dl"]), int(st["max_doc_id"])

    def global_query_stats(self) -> tuple[int, float]:
        """(n_docs, avgdl) — the pair the query engine scores with."""
        st = self._stats()
        return int(st["n_docs"]), float(st["avgdl"])

    def p_logical(self) -> int:
        """The index's pinned doc-id assignment modulus (format parameter)."""
        return int(self._stats()["p_logical"])

    def tp_n(self) -> int:
        """The index's pinned term-prefix directory modulus (format
        parameter) — readers/writers must compute tp from THIS value, never
        from the module default (a mismatched modulus silently misses
        postings; see operators.index_build.TERM_PREFIX_PARTITIONS)."""
        return int(self._stats()["tp_n"])

    def term_dfs(self, terms: list[str], tp_of=None) -> dict[str, int]:
        """Per-term document frequency for a query's term set, memoized per
        snapshot.

        A term's df is the sum of ``n_docs`` over its postings blocks.
        Misses are fetched in ONE job that reads ``(term, n_docs)`` of the
        postings, pruned by the term IN-list (plus term-prefix partition
        pruning when ``tp_of`` is given); absent terms are cached as 0 so
        repeat queries with unknown terms stay job-free. The memo is capped
        to bound driver memory.

        Another thread may clear the shared memo at any time (its fetch
        overflowed the cap), so the answer is built from this call's own
        reads: each memo hit is read once, each miss comes from the fetch.
        """
        with self.pinned() as snap:
            dfs = {}
            for t in terms:
                df = snap.term_df.get(t)
                if df is not None:
                    dfs[t] = df
            missing = [t for t in terms if t not in dfs]
            if missing:
                blocks = self.read("postings").where(F.col("term").isin(missing))
                if tp_of is not None:
                    blocks = blocks.where(F.col("tp").isin(sorted({tp_of(t) for t in missing})))
                rows = blocks.groupBy("term").agg(F.sum("n_docs").alias("df")).collect()
                found = {r["term"]: int(r["df"]) for r in rows}
                if len(snap.term_df) + len(missing) > self._term_df_cap:
                    snap.term_df.clear()
                for t in missing:
                    dfs[t] = snap.term_df[t] = found.get(t, 0)
            return {t: dfs[t] for t in terms}

    # --- table IO ---------------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame:
        """The table as of the snapshot: its explicit live directory list
        (``bucket``, ``v`` and any ``tp`` come from the directory names).
        A listed directory missing on disk raises (never a partial table)."""
        snap = self.snapshot()
        df = snap.dfs.get(name)
        if df is None:
            dirs = [d for _, d in sorted(self.version_dirs(name).items())]
            if not dirs:
                raise RuntimeError(f"table {name!r} has no committed data in {self.root}")
            missing = [d for d in dirs if not os.path.isdir(d)]
            if missing:
                raise FileNotFoundError(f"table {name!r}: version directories in the manifest are missing: {missing}")
            df = snap.dfs[name] = self.spark.read.option("basePath", self.path(name)).parquet(*dirs)
        return df

    def stage_path(self, version: str) -> str:
        return os.path.join(self.path(STAGE_DIR), version)

    def read_stage(self, version: str) -> DataFrame | None:
        """Stage ``version`` (plain parquet; ``bucket`` comes from the
        directory names), or None when it holds no row."""
        path = self.stage_path(version)
        if not glob.glob(os.path.join(path, "bucket=*")):
            return None
        return self.spark.read.parquet(path)

    def drop_stage(self, version: str) -> None:
        shutil.rmtree(self.stage_path(version), ignore_errors=True)

    def exists(self, name: str) -> bool:
        """True when the snapshot lists any bucket of the table."""
        return bool(self.snapshot().tables.get(name))

    def drop(self, name: str) -> None:
        """K8 analogue (reference drop_database, db.py:317-321)."""
        self._snap = None
        shutil.rmtree(self.path(name), ignore_errors=True)
