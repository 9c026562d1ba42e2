"""Snapshot-committed table catalog — the Iceberg seam (SURVEY.md §7.4).

On a production cluster the engine targets Iceberg tables
(``df.writeTo(t).append()``, ``MERGE INTO``, snapshot rollback). This sandbox
has no Iceberg runtime jar and no network, so the same contract is provided
by partitioned Parquet directories plus a JSON *manifest log*: every commit
writes new parquet files under ``data/`` and then atomically publishes a new
manifest (snapshot id, list of live files, counters) via rename. Readers
resolve HEAD and read exactly its manifest's file list — giving the
atomic-commit, read-committed, resume-from-snapshot semantics the north rule
requires, with a one-line swap to Iceberg when the jar is present.

A commit is optimistic: it names the snapshot it read (its parent) and
publishes the child id only if no other writer published it first, else it
raises ``StorageError`` (SURVEY.md X4; the reference's JSON index is
last-writer-wins). Published manifests never change, so each ``Table``
keeps the last one it read or published and re-parses a manifest only when
HEAD names another one — a call on a table nobody else writes reads HEAD
and nothing else of the log.

Why not plain ``df.write.parquet(mode="append")``: a killed job would leave
half-written files visible to the next reader. The manifest makes a wave's
output all-or-nothing (replaces the reference's non-atomic file+index double
write, ref json_storage.py:200-221, whose crash window SURVEY.md §3.2
documents).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# footer key under which Spark stores a parquet file's row schema (JSON)
_SPARK_ROW_KEY = "org.apache.spark.sql.parquet.row.metadata"
# Arrow bytes of decoded data files one Table keeps (read_file's LRU memo):
# twice the ~32 MB a driver-tier list holds at ProductStore's
# ARROW_LIST_MAX_ROWS (250k rows at the measured ~128 B/row)
FILE_MEMO_BYTES = 64 << 20


def conform(table, schema):
    """A file's decoded rows under a scan's unified ``schema``, as a
    pyarrow dataset scan with that schema reads them: as decoded when the
    schemas are equal, else one column per field — a missing one as
    nulls, the rest cast (``unify_schemas`` only promotes null-typed
    fields and nullability)."""
    import pyarrow as pa

    if table.schema.equals(schema):
        return table
    cols = [
        table.column(f.name).cast(f.type)
        if f.name in table.schema.names
        else pa.nulls(table.num_rows, f.type)
        for f in schema
    ]
    return pa.Table.from_arrays(cols, schema=schema)


class _FileMemo:
    """Decoded data files by path, least recently read first, holding at
    most FILE_MEMO_BYTES of Arrow data. An entry is (decoded, shaped,
    nbytes): the file as decoded, as last conformed to a scan's schema
    (the same table when no conform was needed), and their Arrow bytes —
    both tables count, an upper bound: they share most buffers. A lock
    keeps the entries and the byte count consistent when one store is
    read from several threads."""

    def __init__(self):
        self.entries: OrderedDict = OrderedDict()
        self.nbytes = 0
        self._lock = threading.Lock()

    def get(self, path: str):
        """The entry of ``path`` (now the most recently read), or None."""
        with self._lock:
            entry = self.entries.get(path)
            if entry is not None:
                self.entries.move_to_end(path)
            return entry

    def put(self, path: str, decoded, shaped) -> None:
        """Insert or replace the entry of ``path`` as the most recently
        read, then evict the least recently read ones down to the cap; an
        entry over the cap on its own is not kept."""
        size = decoded.nbytes + (0 if shaped is decoded else shaped.nbytes)
        with self._lock:
            self._drop(path)
            if size > FILE_MEMO_BYTES:
                return
            self.entries[path] = (decoded, shaped, size)
            self.nbytes += size
            while self.nbytes > FILE_MEMO_BYTES:
                self._drop(next(iter(self.entries)))

    def retain(self, files: list[str]) -> None:
        """Drop every entry whose path is not in ``files``."""
        if self.entries:
            live = set(files)
            with self._lock:
                for path in [p for p in self.entries if p not in live]:
                    self._drop(path)

    def _drop(self, path: str) -> None:
        entry = self.entries.pop(path, None)
        if entry is not None:
            self.nbytes -= entry[2]


@dataclass
class Snapshot:
    snapshot_id: int
    files: list[str]
    counters: dict[str, int] = field(default_factory=dict)
    parent_id: int | None = None


def has_files(snap: Snapshot | None) -> bool:
    """Whether a snapshot (None: the table has none) lists any file."""
    return snap is not None and bool(snap.files)


def appended(covered: list[str], files: list[str]) -> list[str] | None:
    """The files a live list ``files`` holds after ``covered`` when it
    extends ``covered`` — what commits appended since a reader saw
    ``covered`` — else None: a commit rewrote or dropped a covered file
    (compaction, rollback, truncate, an overwrite, a dropped table), so
    state derived from ``covered`` must be rebuilt from ``files``. Sound
    because a data file path is never reused and its file never changes."""
    n = len(covered)
    if len(files) < n or files[:n] != covered:
        return None
    return files[n:]


class ResidentIndex:
    """A driver-resident index over one table's live files: each row's
    int64 key (``key(decoded columns)``) and its ``payload`` columns, the
    rows numbered in file order, then row order. ``find`` returns the
    numbered rows whose key is wanted: a searchsorted probe of the sorted
    keys, whose cost follows the wanted keys and the hits, not the table.

    The index is a pure function of the file list it covers (``files``):
    ``sync`` decodes only the files a newer list appended (``appended``)
    and rebuilds from nothing when the list no longer extends the covered
    one. The keys live in two sorted runs, a large one and a small one a
    sync merges new keys into; the small run merges into the large one
    once it outgrows an eighth of it, so a thin append costs the small
    run, not a copy of the whole index."""

    def __init__(self, columns: list[str], payload: list[str], key, read_dictionary=None):
        self.columns, self.payload, self.key = columns, payload, key
        self.read_dictionary = read_dictionary
        self.reset()

    def reset(self) -> None:
        """Drop everything: the index then covers no file."""
        import numpy as np

        self.files: list[str] = []
        self.chunks: list = []  # each covered file's payload columns
        self.starts = np.empty(0, np.int64)  # first row number of each file
        self.n_rows = 0
        empty = (np.empty(0, np.int64), np.empty(0, np.int64))
        self._runs = [empty, empty]  # (sorted keys, row numbers): large, small
        self._chunk_bytes = 0

    @property
    def nbytes(self) -> int:
        """Bytes the index holds (numpy and Arrow buffers)."""
        return self._chunk_bytes + self.starts.nbytes + sum(
            k.nbytes + r.nbytes for k, r in self._runs
        )

    def cold(self, files: list[str]) -> list[str]:
        """The files of a live list that a ``sync`` to it would decode."""
        added = appended(self.files, files)
        return files if added is None else added

    def sync(self, files: list[str]) -> None:
        """Cover exactly the live list ``files``."""
        import pyarrow.parquet as pq

        added = appended(self.files, files)
        if added is None:
            self.reset()
            added = files
        for path in added:
            with pq.ParquetFile(path, read_dictionary=self.read_dictionary) as f:
                self._add(f.read(columns=self.columns))
            self.files.append(path)

    def _add(self, table) -> None:
        import numpy as np

        n0 = self.n_rows
        keys = np.asarray(self.key(table), dtype=np.int64)
        o = np.argsort(keys, kind="stable")
        small = _merge_runs(self._runs[1], (keys[o], n0 + o.astype(np.int64)))
        large = self._runs[0]
        if len(small[0]) > len(large[0]) // 8:
            large, small = _merge_runs(large, small), (keys[:0], keys[:0])
        self._runs = [large, small]
        chunk = table.select(self.payload)
        self.chunks.append(chunk)
        self._chunk_bytes += chunk.nbytes
        self.starts = np.append(self.starts, n0)
        self.n_rows += table.num_rows

    def find(self, wanted):
        """(row numbers, keys) of every covered row whose key is in
        ``wanted``, ascending by row number."""
        import numpy as np

        wanted = np.unique(np.asarray(wanted, dtype=np.int64))
        rows, keys = [], []
        for k, r in self._runs:
            lo = np.searchsorted(k, wanted, "left")
            n = np.searchsorted(k, wanted, "right") - lo
            if n.any():
                # positions lo[i] .. lo[i] + n[i] - 1 of every wanted key
                pos = np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(int(n.sum()))
                rows.append(r[pos])
                keys.append(k[pos])
        if not rows:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        rows, keys = np.concatenate(rows), np.concatenate(keys)
        o = np.argsort(rows)
        return rows[o], keys[o]

    def locate(self, rows):
        """(index into ``files``, row within that file) of each row number."""
        import numpy as np

        f = np.searchsorted(self.starts, rows, "right") - 1
        return f, rows - self.starts[f]

    def take(self, rows, column: str) -> list:
        """The payload ``column``'s values at ascending row numbers."""
        import numpy as np
        import pyarrow as pa

        if not len(rows):
            return []
        f, r = self.locate(rows)
        out: list = []
        cuts = np.flatnonzero(np.diff(f)) + 1
        for lo, hi in zip(np.r_[0, cuts].tolist(), np.r_[cuts, len(f)].tolist()):
            col = self.chunks[int(f[lo])].column(column)
            if hi - lo <= 8:  # a few values: scalar reads beat a take's fixed cost
                out.extend(col[i].as_py() for i in r[lo:hi].tolist())
            else:
                out.extend(col.take(pa.array(r[lo:hi])).to_pylist())
        return out


def _merge_runs(a, b):
    """Two (sorted keys, row numbers) runs as one; equal keys keep ``a``'s
    rows first (a stable sort of the concatenation, which finds the two
    runs and merges them)."""
    import numpy as np

    if not len(a[0]):
        return b
    if not len(b[0]):
        return a
    keys = np.concatenate([a[0], b[0]])
    o = np.argsort(keys, kind="stable")
    return keys[o], np.concatenate([a[1], b[1]])[o]


class Table:
    """One snapshot-committed table rooted at ``root``.

    ``merge_schema`` turns on parquet footer merging at read time — needed
    only for schema-on-read tables (ProductStore); fixed-schema engine
    tables skip it (footer scans grow with the file count otherwise).

    ``bucket_by=(col, n)`` hash-buckets every committed file by
    ``pmod(hash(col), n)`` into ``_bucket=K/`` directories (the Iceberg
    ``bucket(n, col)`` partition-transform analog). Point lookups then read
    1/n of the files (``read(buckets={...})``) and mutations rewrite only
    the touched buckets (``replace_buckets``) instead of the whole table.

    Data files are immutable: every commit writes its files under a fresh
    ``data/commit-<uuid>/`` directory, and no file is ever rewritten in
    place — a commit only publishes a new file list (``expire_snapshots``
    deletes files, never edits them). So a file's decoded rows stay valid
    for as long as the file is live, which is what ``read_file``'s memo
    relies on: it keeps decoded files by path, filled by reads and by
    ``commit_arrow_buckets`` (each file it writes, in the form a read
    decodes it to), drops an entry as soon as its file leaves the current
    snapshot, and holds at most FILE_MEMO_BYTES of Arrow data (least
    recently read out first).

    ``current_snapshot`` returns the cached snapshot while HEAD names the
    same manifest, so callers share it: they must not edit its ``files``
    or ``counters`` in place (every commit builds new ones).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        merge_schema: bool = False,
        bucket_by: tuple[str, int] | None = None,
    ):
        self.spark = spark
        self.merge_schema = merge_schema
        self.bucket_by = bucket_by
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "meta")
        self._memo = _FileMemo()
        # (manifest identity, Snapshot, {file: bucket} or None) of the last
        # snapshot read or published; one tuple, so threads never see a
        # torn pair
        self._head: tuple | None = None
        try:
            os.makedirs(self.data_dir, exist_ok=True)
            os.makedirs(self.meta_dir, exist_ok=True)
        except OSError as e:
            # reference contract: backend unreachable/unwritable surfaces as
            # StorageConnectionError (ref storage/base.py:14-16), not a raw
            # OS error
            from crawl4ai_llm_spark.errors import StorageConnectionError

            raise StorageConnectionError(f"warehouse not writable: {root}: {e}") from e

    # --- snapshot log --------------------------------------------------------

    def _head_path(self) -> str:
        return os.path.join(self.meta_dir, "HEAD")

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{snapshot_id}.json")

    def _read_head(self) -> int | None:
        """The snapshot id HEAD names, None before the first commit."""
        try:
            with open(self._head_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_key(self, snapshot_id: int) -> tuple:
        """What identifies one published manifest file: its id, inode,
        mtime and size — a dropped and re-created table that reaches the
        same id again has a different file."""
        st = os.stat(self._manifest_path(snapshot_id))
        return snapshot_id, st.st_ino, st.st_mtime_ns, st.st_size

    def current_snapshot(self) -> Snapshot | None:
        """The snapshot HEAD names: one HEAD read, plus a manifest parse
        only when HEAD names another manifest than the cached one."""
        sid = self._read_head()
        if sid is None:
            self._remember(None)
            return None
        key = self._manifest_key(sid)
        cached = self._head
        if cached is not None and cached[0] == key:
            return cached[1]
        snap = self.snapshot(sid)
        self._remember(snap, key)
        return snap

    def _remember(self, snap: Snapshot | None, key: tuple | None = None, buckets=None) -> None:
        """Cache ``snap`` as the current snapshot — on a bucketed table
        with each live file's bucket, parsed only for files the previous
        one did not hold and the caller (``buckets``) does not know — and
        shed every memo entry whose file left it."""
        if snap is None:
            self._head = None
            self._memo.retain([])
            return
        bucket_of = None
        if self.bucket_by is not None:
            old = (self._head[2] if self._head is not None else None) or {}
            new = buckets or {}
            bucket_of = {
                f: new[f] if f in new else old[f] if f in old else self._file_bucket(f)
                for f in snap.files
            }
        self._head = (key, snap, bucket_of)
        self._memo.retain(snap.files)

    def file_buckets(self, snap: Snapshot) -> dict[str, int | None]:
        """{file: bucket id, None for a legacy unbucketed file} over the
        snapshot's files, in its file order — cached for a bucketed
        table's current snapshot, so ``_file_bucket`` runs once per file,
        not once per call."""
        cached = self._head
        if cached is not None and cached[1] is snap and cached[2] is not None:
            return cached[2]
        return {f: self._file_bucket(f) for f in snap.files}

    def snapshot(self, snapshot_id: int) -> Snapshot:
        with open(self._manifest_path(snapshot_id)) as f:
            d = json.load(f)
        return Snapshot(d["snapshot_id"], d["files"], d.get("counters", {}), d.get("parent_id"))

    _SNAP_RE = re.compile(r"^snap-(\d+)\.json$")

    def snapshots(self) -> list[Snapshot]:
        # Parse ONLY published manifests. A crash between the tmp write and
        # os.replace in _publish leaves a snap-N.json.tmp-<uuid> file in this
        # directory; matching it here would break resume in exactly the crash
        # window the manifest log exists to survive.
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            m = self._SNAP_RE.match(name)
            if m:
                out.append(self.snapshot(int(m.group(1))))
        return sorted(out, key=lambda s: s.snapshot_id)

    def clean_stale_tmp(self) -> int:
        """Delete orphaned ``*.tmp-*`` manifest files left by a crash before
        the atomic rename. Safe any time: a tmp file is invisible to readers
        (never matched by _SNAP_RE) and its writer is gone."""
        n = 0
        for name in os.listdir(self.meta_dir):
            if ".tmp-" in name:
                os.unlink(os.path.join(self.meta_dir, name))
                n += 1
        return n

    def _publish(self, snap: Snapshot, buckets: dict | None = None) -> None:
        """Publish ``snap``, the child of the snapshot HEAD named when the
        caller read it (id ``snap.snapshot_id - 1``; none for id 1).

        The manifest is hard-linked into place, which fails if its id is
        already published: another writer committed since the caller's
        read, and this commit raises ``StorageError`` naming both ids
        instead of overwriting it. The one exception is a manifest HEAD
        never reached — left by a publish killed before its pointer swap —
        which is replaced, as it always was. ``buckets``: the new files'
        bucket ids, when the caller knows them."""
        path = self._manifest_path(snap.snapshot_id)
        try:
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                # dumps, not dump: dump streams through the pure-Python
                # encoder, and a manifest lists every live file
                f.write(
                    json.dumps(
                        {
                            "snapshot_id": snap.snapshot_id,
                            "parent_id": snap.parent_id,
                            "files": snap.files,
                            "counters": snap.counters,
                        }
                    )
                )
            try:
                os.link(tmp, path)  # atomic, and only if the id is free
                os.unlink(tmp)
            except FileExistsError:
                head = self._read_head()
                if head != (snap.snapshot_id - 1 or None):
                    os.unlink(tmp)
                    from crawl4ai_llm_spark.errors import StorageError

                    raise StorageError(
                        f"commit conflict on {self.root}: read snapshot "
                        f"{snap.snapshot_id - 1 or None}, HEAD is now {head}"
                    ) from None
                os.replace(tmp, path)  # an orphan of a killed publish
            head_tmp = self._head_path() + f".tmp-{uuid.uuid4().hex}"
            with open(head_tmp, "w") as f:
                f.write(str(snap.snapshot_id))
            os.replace(head_tmp, self._head_path())  # atomic pointer swap
            self._remember(snap, self._manifest_key(snap.snapshot_id), buckets)
        except OSError as e:
            from crawl4ai_llm_spark.errors import StorageConnectionError

            raise StorageConnectionError(
                f"cannot publish snapshot under {self.meta_dir}: {e}"
            ) from e

    # --- commits -------------------------------------------------------------

    def _write_files(self, df: DataFrame) -> list[str]:
        """Materialize df as new parquet files; return their paths.

        One distributed write — Spark tasks are the fan-out (replaces the
        reference's asyncio.gather thread fan-out, json_storage.py:279-293).
        Bucketed tables re-derive ``_bucket`` from the data (so compaction
        and merge rewrites stay correctly bucketed), shuffle on it once so
        each commit produces ≤1 file per touched bucket, and write it as a
        partition directory — it is never a data column.
        """
        from pyspark.sql import functions as F

        out_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex}")
        if self.bucket_by is not None:
            col, n = self.bucket_by
            bucketed = df.withColumn("_bucket", F.pmod(F.hash(F.col(col)), F.lit(n)))
            bucketed.repartition(n, F.col("_bucket")).write.partitionBy("_bucket").parquet(
                out_dir, mode="overwrite"
            )
            return [
                os.path.join(dirpath, name)
                for dirpath, _, names in os.walk(out_dir)
                for name in names
                if name.endswith(".parquet")
            ]
        df.write.parquet(out_dir, mode="overwrite")
        return [
            os.path.join(out_dir, name)
            for name in os.listdir(out_dir)
            if name.endswith(".parquet")
        ]

    @staticmethod
    def _file_bucket(path: str) -> int | None:
        """Bucket id encoded in a file's partition directory, None if the
        file predates bucketing (legacy layout)."""
        m = re.search(r"/_bucket=(\d+)/", path)
        return int(m.group(1)) if m else None

    def _commit(
        self,
        files: list[str],
        counters: dict[str, int] | None,
        parent: Snapshot | None,
        buckets: dict | None = None,
    ) -> Snapshot:
        """Publish ``files`` as the live set of a new child of ``parent``
        (the snapshot the caller read before writing) — every commit but
        rollback goes through here."""
        snap = Snapshot(
            parent.snapshot_id + 1 if parent else 1,
            files,
            counters or {},
            parent.snapshot_id if parent else None,
        )
        self._publish(snap, buckets)
        return snap

    def _write_arrow(self, table, spark_schema=None) -> str:
        """Write one pyarrow table as one parquet file under a fresh
        commit directory and return its path — the catalog's one Arrow
        writer. ``spark_schema`` (a StructType): the Spark row schema to
        stamp into the footer under the key Spark itself writes, so
        ``read`` takes it from there instead of running an inference job.
        The caller's table must then carry the physical types Spark writes
        for that schema (``to_arrow_schema`` of it)."""
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex}")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "part-0.parquet")
        if spark_schema is not None:
            table = table.replace_schema_metadata({_SPARK_ROW_KEY: spark_schema.json()})
        pq.write_table(table, path)
        return path

    def append_arrow(
        self, table, counters: dict[str, int] | None = None, spark_schema=None
    ) -> Snapshot:
        """Append a driver-side pyarrow table WITHOUT a Spark job: one
        parquet file (``_write_arrow``) and one snapshot."""
        path = self._write_arrow(table, spark_schema)
        parent = self.current_snapshot()
        return self._commit((parent.files if parent else []) + [path], counters, parent)

    def overwrite_arrow(
        self, table, counters: dict[str, int] | None = None, spark_schema=None
    ) -> Snapshot:
        return self._commit(
            [self._write_arrow(table, spark_schema)], counters, self.current_snapshot()
        )

    def append_pylist(
        self, rows: list[dict], counters: dict[str, int] | None = None, schema=None
    ) -> Snapshot:
        """Append a small driver-side row list WITHOUT a Spark job — one
        pyarrow parquet write. For metadata-sized tables (checkpoints,
        per-wave dup pairs): launching a distributed job to write a few
        rows is pure latency. ``schema``: optional pyarrow schema, needed
        when Spark jobs also write this table (physical-type parity:
        from_pylist infers int64 where Spark wrote int32, and mixed
        physical types across files break the table's schema merge)."""
        import pyarrow as pa

        return self.append_arrow(pa.Table.from_pylist(rows, schema=schema), counters)

    def overwrite_pylist(
        self, rows: list[dict], counters: dict[str, int] | None = None
    ) -> Snapshot:
        import pyarrow as pa

        return self.overwrite_arrow(pa.Table.from_pylist(rows), counters)

    def append(self, df: DataFrame, counters: dict[str, int] | None = None) -> Snapshot:
        parent = self.current_snapshot()
        files = self._write_files(df)
        return self._commit((parent.files if parent else []) + files, counters, parent)

    def overwrite(self, df: DataFrame, counters: dict[str, int] | None = None) -> Snapshot:
        parent = self.current_snapshot()
        return self._commit(self._write_files(df), counters, parent)

    def truncate(self, counters: dict[str, int] | None = None) -> Snapshot:
        """Publish an empty snapshot — the rollback target for 'before any
        data existed'. A kill during the FIRST wave that writes a table
        leaves a snapshot no rollback() can rewind past (there is no
        earlier snapshot id); resume() truncates such tables instead, so a
        re-run wave never double-appends."""
        return self._commit([], counters, self.current_snapshot())

    def compact(self, target_partitions: int = 8, counters: dict[str, int] | None = None) -> Snapshot | None:
        """Rewrite the live file set into ``target_partitions`` files — the
        maintenance commit a long crawl runs every K waves (append-only
        tables otherwise accumulate cores×waves files, and every reader
        pays the footer scans). Same data, new snapshot; old snapshots
        still reference the old files (rollback still works)."""
        current = self.read()
        if current is None:
            return None
        return self.overwrite(
            current.coalesce(target_partitions),
            counters=counters or self.current_snapshot().counters,
        )

    def expire_snapshots(self, keep_last: int = 10) -> dict[str, int]:
        """Iceberg ``expire_snapshots`` parity — the maintenance op that
        bounds storage on long-running tables: drop all but the newest
        ``keep_last`` manifests and delete any data file referenced ONLY by
        dropped snapshots. Irreversible: rollback past the horizon becomes
        impossible (time travel is traded for space, exactly as in
        Iceberg). HEAD is always the newest snapshot (rollback publishes a
        NEW child), so the current table state is never touched.

        Without this, an append-per-wave crawl retains cores×waves parquet
        files forever — compaction bounds the LIVE file count but every
        superseded file stays referenced by an old manifest."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"removed_snapshots": 0, "removed_files": 0}
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        live = {f for s in keep for f in s.files}
        removed_files = 0
        for s in drop:
            for f in s.files:
                if f not in live and os.path.exists(f):
                    os.unlink(f)
                    removed_files += 1
            manifest = os.path.join(self.meta_dir, f"snap-{s.snapshot_id}.json")
            if os.path.exists(manifest):
                os.unlink(manifest)
        # sweep now-empty commit/bucket directories (cosmetic, best-effort)
        for dirpath, dirnames, filenames in os.walk(self.data_dir, topdown=False):
            if dirpath != self.data_dir and not dirnames and not filenames:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return {"removed_snapshots": len(drop), "removed_files": removed_files}

    def retag(self, counters: dict[str, int]) -> Snapshot | None:
        """Publish a new snapshot with the SAME file list and new counters —
        a metadata-only commit (Iceberg snapshot-properties analog). Used to
        mark state on a table without touching data, e.g. the content-dedup
        index's ``stale`` flag (``DedupIndex.mark_stale``).
        No-op (returns None) on an empty table."""
        parent = self.current_snapshot()
        if parent is None:
            return None
        return self._commit(parent.files, counters, parent)

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Reset HEAD to an earlier snapshot (Iceberg rollback analog).

        The reference degrades a corrupted index to ``{}`` silently
        (json_storage.py:134-136); the engine's policy is explicit rollback
        instead (SURVEY.md §4).
        """
        snap, head = self.snapshot(snapshot_id), self.current_snapshot()
        child = Snapshot(head.snapshot_id + 1 if head else 1, snap.files, snap.counters, snapshot_id)
        self._publish(child)
        return child

    # --- reads ---------------------------------------------------------------

    def read(
        self, snapshot_id: int | None = None, buckets: set[int] | None = None
    ) -> DataFrame | None:
        """Read the snapshot's live files. ``buckets`` prunes the file list
        to those bucket directories (plus any legacy unbucketed files, which
        could hold any key) — the point-lookup path reads 1/n of the data.
        """
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        if snap is None or not snap.files:
            return None
        files = snap.files
        if buckets is not None:
            files = [
                f for f, b in self.file_buckets(snap).items() if b is None or b in buckets
            ]
            if not files:
                return None
        reader = self.spark.read
        if self.merge_schema:
            # appended batches may carry new columns (schema-on-read parity
            # with the reference, SURVEY.md §1.1)
            reader = reader.option("mergeSchema", "true")
        elif (schema := self._spark_row_schema(min(files))) is not None:
            # without mergeSchema Spark takes the schema from the footer of
            # the first file in path order, in a one-task job per read;
            # handing it the same schema read with pyarrow skips that job
            # (driver-written files carry it too: _write_arrow stamps it)
            reader = reader.schema(schema)
        return reader.parquet(*files)

    @staticmethod
    def _spark_row_schema(path: str):
        """The Spark row schema stored in a parquet file's footer (by
        Spark, or stamped by ``_write_arrow``), or None for a file without
        one (an unstamped pyarrow write)."""
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_ROW_KEY.encode())
        return None if raw is None else StructType.fromJson(json.loads(raw))

    # --- decoded-file memo (driver-side readers) ------------------------------

    def file_footer(self, path: str):
        """(Arrow schema, row count) of one data file: from the memo when
        the file is decoded there, else from its parquet footer."""
        entry = self._memo.get(path)
        if entry is not None:
            return entry[0].schema, entry[0].num_rows
        import pyarrow.parquet as pq

        meta = pq.read_metadata(path)
        return meta.schema.to_arrow_schema(), meta.num_rows

    def read_file(self, path: str, schema=None):
        """One data file's rows as a pyarrow Table, decoded whole and
        memoized (see the class docstring) — under ``schema`` when given,
        as a dataset scan with that schema reads the file (``conform``);
        the memo keeps that form too, so a scan whose schema did not
        change conforms nothing again. A file larger than FILE_MEMO_BYTES
        is decoded, not kept."""
        entry = self._memo.get(path)
        if entry is not None:
            decoded, shaped, _ = entry
            if schema is None:
                return decoded
            if shaped.schema.equals(schema):
                return shaped
        else:
            import pyarrow.parquet as pq

            with pq.ParquetFile(path) as f:
                decoded = shaped = f.read()
        if schema is not None:
            shaped = conform(decoded, schema)
        self._memo.put(path, decoded, shaped)
        return decoded if schema is None else shaped

    def replace_buckets(
        self, df: DataFrame, buckets: set[int], counters: dict[str, int] | None = None
    ) -> Snapshot:
        """O(changed-data) mutation commit: the given buckets' files are
        replaced by ``df`` (which must contain exactly those buckets' rows);
        every other bucket's files carry over untouched — a 10-row update
        on a 1M-row store rewrites a handful of files, not the table.
        This is the distributed form: one Spark write job. Row lists the
        driver already holds commit through commit_arrow_buckets instead,
        with the same invariants and no job.
        (This is the merge-on-read/delete-manifest seam: with the Iceberg
        jar present it becomes MERGE INTO with bucket(n, col) partitioning.)
        Raises ValueError if legacy unbucketed files exist — those may hold
        rows of ANY bucket, so a bucket-scoped replace would silently drop
        or duplicate rows. The remedy is ``compact()``: its rewrite
        re-derives ``_bucket`` for every row (see _write_files), migrating a
        legacy layout into the bucketed one (store-level entry point:
        ProductStore.compact)."""
        parent = self.current_snapshot()
        old = self.file_buckets(parent) if parent else {}
        if None in old.values():
            raise ValueError(
                "replace_buckets on a table with unbucketed files — compact first"
            )
        keep = [f for f, b in old.items() if b not in buckets]
        files = self._write_files(df)
        for f in files:
            if self._file_bucket(f) not in buckets:
                raise ValueError(f"replacement row landed outside {buckets}: {f}")
        return self._commit(keep + files, counters, parent)

    def commit_arrow_buckets(
        self,
        tables: dict,
        replace: bool,
        counters: dict[str, int] | None = None,
        parent: Snapshot | None = None,
    ) -> Snapshot:
        """Driver-side bucketed commit WITHOUT a Spark job — the Arrow
        sibling of append_pylist (no job) and replace_buckets (bucket
        scope). ``tables`` maps bucket id → pyarrow Table of that bucket's
        rows; each non-empty one becomes ONE ``_bucket=K/part-0.parquet``.
        ``replace=True`` drops the listed buckets' current files (an empty
        table then empties its bucket); ``replace=False`` appends.
        ``parent``: the snapshot the caller read the rows from (default:
        the current one); the commit raises ``StorageError`` if another
        writer committed after it (``_publish``).

        Files match what Spark writes for the same rows: INT96 timestamps
        and no stored Arrow or Spark row schema, so a ``mergeSchema`` read
        derives every file's types from the same parquet physical schema.
        Each file also enters the decoded-file memo as a read would decode
        it (the footer's types: INT96 as ``timestamp[ns]``, its
        nullability, no schema metadata), so the next read of it decodes
        nothing. Same invariants as replace_buckets: refuses a table with
        legacy unbucketed files, and raises ValueError for any row whose
        ``pmod(hash(col), n)`` (``hashing.spark_buckets``) is not the
        bucket it is filed under, a null key included."""
        import pyarrow.parquet as pq

        from crawl4ai_llm_spark.frontier.hashing import spark_buckets

        col, n = self.bucket_by
        if parent is None:
            parent = self.current_snapshot()
        old = self.file_buckets(parent) if parent else {}
        if None in old.values():
            raise ValueError(
                "commit_arrow_buckets on a table with unbucketed files — compact first"
            )
        for k, t in tables.items():
            keys = t.column(col)
            wrong = (spark_buckets(keys, n) != k).nonzero()[0]
            if len(wrong):
                key = keys[int(wrong[0])].as_py()
                raise ValueError(f"row {key!r} does not belong in bucket {k}")
        out_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex}")
        written = {}  # path -> (bucket, the file's rows as a read decodes them)
        for k, t in sorted(tables.items()):
            if t.num_rows == 0:
                continue
            path = os.path.join(out_dir, f"_bucket={k}", "part-0.parquet")
            os.makedirs(os.path.dirname(path))
            t = t.replace_schema_metadata(None)
            footer: list = []
            pq.write_table(
                t,
                path,
                use_deprecated_int96_timestamps=True,
                store_schema=False,
                metadata_collector=footer,
            )
            written[path] = k, t.cast(footer[0].schema.to_arrow_schema()).combine_chunks()
        keep = [f for f, b in old.items() if b not in tables] if replace else list(old)
        snap = self._commit(
            keep + list(written), counters, parent, {f: k for f, (k, _) in written.items()}
        )
        for path, (_, decoded) in written.items():
            self._memo.put(path, decoded, decoded)
        return snap

    def is_empty(self) -> bool:
        return not has_files(self.current_snapshot())


class Catalog:
    """Namespace of tables under one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        try:
            os.makedirs(warehouse, exist_ok=True)
        except OSError as e:
            from crawl4ai_llm_spark.errors import StorageConnectionError

            raise StorageConnectionError(f"warehouse not writable: {warehouse}: {e}") from e

    def table(
        self,
        name: str,
        merge_schema: bool = False,
        bucket_by: tuple[str, int] | None = None,
    ) -> Table:
        return Table(self.spark, os.path.join(self.warehouse, name), merge_schema, bucket_by)

    def drop(self, name: str) -> None:
        import shutil

        path = os.path.join(self.warehouse, name)
        if os.path.exists(path):
            shutil.rmtree(path)
