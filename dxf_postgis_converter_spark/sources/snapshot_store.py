"""Snapshot-versioned parquet table — the transactional layer J6-J8 run on.

The reference's write path is transactional by construction: every upsert
is one ``INSERT .. ON CONFLICT DO UPDATE`` against PostGIS
(postgis_entity_repository.py:215-224) and layer-table moves are a
catalog ``rename_table`` inside the import session
(import_use_case.py:392-417).  On a data lake the equivalent is an
Iceberg/Delta table: immutable data files + a versioned manifest +
atomic pointer swap.  Neither library's jars exist in this container, so
this module implements the table format from scratch with the same
contract — and the same *scale* mechanics, which is the part that
matters at 100 TB:

- **Immutable data files, manifest-per-snapshot.** A snapshot is a JSON
  manifest listing parquet files (path, rows, bytes, per-file min/max
  key stats pulled from the parquet footers — no extra Spark job).
  Readers plan from ONE small JSON; writers never mutate existing files.
- **Atomic optimistic commit.** A writer stages data files, then claims
  version N+1 by hard-linking its fully-written manifest to
  ``v{N+1}.json`` (``os.link`` is atomic, fails on EEXIST).  A lost race
  raises :class:`CommitConflict` — append-only commits auto-retry
  against the new head, merges re-plan.  The truth is ``max(v*.json)``;
  a crashed writer leaves only unreferenced staging files (cleaned by
  :meth:`expire_snapshots`), never a torn table.
- **Copy-on-write MERGE with file-level pruning.** ``merge(source,
  mode)`` intersects the source's doc_id set with each file's
  [min, max] doc_id stats and rewrites ONLY intersecting files; every
  other file is carried into the new manifest *by reference*.  An
  import touching 3 documents of a 10^12-row table rewrites 3 documents'
  worth of files, exactly like Iceberg's merge-on-read-free COW path.
- **Time travel / rollback / expiry.**  ``read(version=)`` plans any
  historical snapshot; ``rollback(v)`` commits a NEW snapshot that
  points at v's file set (history is never rewritten);
  ``expire_snapshots(keep_last=)`` deletes manifests and
  no-longer-referenced data files.
- **Catalog RENAME.** :class:`Catalog` maps table names to paths in a
  claim-by-version JSON (same ``os.link`` optimistic commit as table
  manifests), mirroring the reference's layer-table rename-on-reconcile.

Swapping to real Iceberg is mechanical: ``commit`` → ``MERGE INTO`` /
``overwritePartitions``, ``read(version)`` → ``VERSION AS OF``,
``Catalog.rename`` → ``ALTER TABLE RENAME``; the operators above this
layer (operators/merge_modes.py) are unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..operators.merge_modes import ImportMode, apply_mode

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")
_STAT_COL = "doc_id"  # merge pruning key: imports are scoped per document


class CommitConflict(RuntimeError):
    """Another writer claimed the target version first. Append commits
    retry transparently; merge callers must re-plan against the new head
    (their join result is stale)."""


# identity under which append_stream_batch records its epoch high-water
# mark when the caller passes no stream_id (single-sink tables)
_DEFAULT_STREAM = "default"


class StreamBatchRegression(RuntimeError):
    """A streaming batch id arrived STRICTLY below its stream's committed
    high-water mark. Within one Structured Streaming query epochs only
    grow, so this means a reset checkpoint or a second query sharing the
    same stream identity — skipping it as 'already committed' would be
    silent data loss (ADVICE r6). Pass a distinct ``stream_id`` per
    query/checkpoint to dedup independently."""


def _file_stats(path: str) -> dict:
    """Per-file stats from the parquet footer (rows, bytes, min/max of
    the pruning column) — the manifest is built driver-side from
    metadata only, never by re-scanning data."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    lo = hi = None
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    if _STAT_COL in idx:
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx[_STAT_COL]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
            # parquet writers may TRUNCATE long binary stats; a truncated
            # max can understate the file's range and a range-pruned
            # merge would then silently skip rows it must rewrite. Treat
            # suspiciously-long stats as absent (= file always rewritten
            # — correct, just unpruned). doc_ids here are short uuids,
            # so this guard never fires in practice.
            if isinstance(mn, str) and (len(mn) >= 60 or len(mx) >= 60):
                lo = hi = None
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    return {"rows": meta.num_rows, "bytes": os.path.getsize(path),
            "stat_min": lo, "stat_max": hi}


class SnapshotTable:
    """One versioned table rooted at ``path`` (``data/`` + ``_snapshots/``)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._snap_dir = os.path.join(path, "_snapshots")
        self._data_dir = os.path.join(path, "data")

    # -- snapshot bookkeeping -------------------------------------------------

    def exists(self) -> bool:
        return self.current_version() is not None

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._snap_dir):
            return []
        out = []
        for f in os.listdir(self._snap_dir):
            m = _MANIFEST_RE.match(f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._snap_dir, f"v{version}.json")) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Snapshot log, oldest first (version, snapshot_id, operation,
        parent, committed_at, n_files, n_rows)."""
        out = []
        for v in self._versions():
            m = self._manifest(v)
            out.append({k: m[k] for k in
                        ("version", "snapshot_id", "operation", "parent",
                         "committed_at")} |
                       {"n_files": len(m["files"]),
                        "n_rows": sum(f["rows"] for f in m["files"])})
        return out

    # -- read -----------------------------------------------------------------

    def read(self, version: int | None = None,
             as_of: float | None = None) -> DataFrame:
        """DataFrame over a snapshot's file set (default: current head).
        ``as_of`` picks the last snapshot committed at or before a unix
        timestamp (Iceberg ``TIMESTAMP AS OF``)."""
        if version is None and as_of is not None:
            eligible = [v for v in self._versions()
                        if self._manifest(v)["committed_at"] <= as_of]
            if not eligible:
                raise ValueError(f"no snapshot at or before {as_of}")
            version = eligible[-1]
        if version is None:
            version = self.current_version()
        if version is None:
            raise ValueError(f"table {self.path} has no snapshots")
        m = self._manifest(version)
        schema = StructType.fromJson(m["schema"])
        files = [os.path.join(self.path, f["path"]) for f in m["files"]]
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    # -- write ----------------------------------------------------------------

    def _stage_files(self, df: DataFrame) -> list[dict]:
        """Write df as immutable data files under data/<uuid>/, return
        manifest entries. Files are unreferenced until a manifest commits."""
        sub = uuid.uuid4().hex
        out_dir = os.path.join(self._data_dir, sub)
        df.write.mode("errorifexists").parquet(out_dir)
        entries = []
        for f in sorted(os.listdir(out_dir)):
            if f.endswith(".parquet"):
                full = os.path.join(out_dir, f)
                entries.append(
                    {"path": os.path.relpath(full, self.path)} | _file_stats(full))
        return entries

    def _stream_hwms(self, version: int | None) -> dict[str, int]:
        """Per-stream-identity high-water marks of committed foreachBatch
        epoch ids (Iceberg keys its streaming commit dedup by query id the
        same way)."""
        if version is None:
            return {}
        return dict(self._manifest(version).get("stream_batches") or {})

    def _commit(self, files: list[dict], operation: str,
                schema_json: dict, expected_parent: int | None,
                stream_batch: int | None = None,
                stream_id: str = None) -> int:
        """Claim the next version atomically. ``expected_parent`` pins the
        snapshot this commit was planned against — a mismatch at claim
        time means a concurrent writer won and the plan is stale.

        Every manifest carries ``stream_batches`` (per-stream-identity
        high-water marks of committed foreachBatch epoch ids) forward from
        its parent, so stream replay dedup survives ``expire_snapshots`` —
        the dedup no longer depends on retained history (ADVICE r5), and
        since round 7 it is KEYED by stream identity (ADVICE r6) so a
        second streaming query cannot be silently swallowed by the first
        one's mark."""
        os.makedirs(self._snap_dir, exist_ok=True)
        head = self.current_version()
        if head != expected_parent:
            raise CommitConflict(
                f"planned against v{expected_parent}, head is v{head}")
        version = 0 if head is None else head + 1
        hwms = self._stream_hwms(head)
        if stream_batch is not None:
            sid = stream_id or _DEFAULT_STREAM
            hwms[sid] = max(hwms.get(sid, -1), int(stream_batch))
        manifest = {
            "version": version,
            "snapshot_id": uuid.uuid4().hex,
            "parent": head,
            "operation": operation,
            "committed_at": time.time(),
            "schema": schema_json,
            "files": files,
            "stream_batches": hwms,
        }
        tmp = os.path.join(self._snap_dir, f".tmp-{manifest['snapshot_id']}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            # atomic claim-with-content: link fails iff someone else
            # already committed this version (fsync'd rename-free swap)
            os.link(tmp, os.path.join(self._snap_dir, f"v{version}.json"))
        except FileExistsError as e:
            raise CommitConflict(f"lost race for v{version}") from e
        finally:
            os.unlink(tmp)
        return version

    def _schema_json(self, df: DataFrame,
                     allow_new_columns: bool = False) -> dict:
        cur = self.current_version()
        sj = json.loads(df.schema.json())
        if cur is None:
            return sj
        existing = self._manifest(cur)["schema"]
        have = {f["name"] for f in existing["fields"]}
        writing = {f["name"] for f in sj["fields"]}
        if writing == have:
            return existing  # keep canonical field order
        if allow_new_columns and writing > have:
            # additive schema evolution (Iceberg add-column): canonical
            # order + the new fields appended; data files committed BEFORE
            # this snapshot read through the wider schema as NULL for the
            # added columns, so no rewrite happens
            new = [f for f in sj["fields"] if f["name"] not in have]
            return {**existing, "fields": existing["fields"] + new}
        raise ValueError(
            "schema mismatch: table has "
            f"{[f['name'] for f in existing['fields']]}, "
            f"write has {[f['name'] for f in sj['fields']]}"
            + ("" if allow_new_columns else
               " (pass allow_new_columns=True for additive evolution)"))

    def _refresh_schema(self, schema_json: dict) -> dict:
        """Re-validate a PLANNED schema against the current head before a
        (re)try commits it. ADVICE r5 (medium): a concurrent commit may
        have additively evolved the table between plan time and the
        retry — recording the stale pre-evolution schema would make
        read() (which plans from the head schema) silently hide the new
        column. The head schema wins field order; fields only this write
        carries are appended (its own additive evolution); staged files
        missing head columns read through the wider schema as NULL."""
        cur = self.current_version()
        if cur is None:
            return schema_json
        existing = self._manifest(cur)["schema"]
        have = {f["name"] for f in existing["fields"]}
        writing = {f["name"] for f in schema_json["fields"]}
        if writing <= have:
            return existing
        new = [f for f in schema_json["fields"] if f["name"] not in have]
        return {**existing, "fields": existing["fields"] + new}

    def append(self, df: DataFrame, _retries: int = 3,
               allow_new_columns: bool = False) -> int:
        """Append-only commit (retries transparently on conflict — an
        append planned against any head is valid against any newer one).
        ``allow_new_columns=True`` lets the write carry extra columns and
        evolves the table schema additively."""
        schema_json = self._schema_json(df, allow_new_columns)
        new_files = self._stage_files(df.select(
            *[f["name"] for f in schema_json["fields"]]))
        for attempt in range(_retries + 1):
            head = self.current_version()
            carried = [] if head is None else self._manifest(head)["files"]
            try:
                return self._commit(carried + new_files, "append",
                                    self._refresh_schema(schema_json), head)
            except CommitConflict:
                if attempt == _retries:
                    raise
        raise AssertionError("unreachable")

    def append_stream_batch(self, df: DataFrame, batch_id: int,
                            stream_id: str | None = None,
                            _retries: int = 3) -> int | None:
        """Idempotent per-micro-batch append for ``foreachBatch`` sinks:
        the batch id is recorded in the snapshot ``operation`` and a
        replayed batch (foreachBatch's at-least-once contract) is skipped
        — Iceberg's streaming epoch-id commit dedup. Returns the committed
        version, or None when this batch id already has a snapshot.

        Dedup is primarily the head manifest's per-stream high-water mark
        (``stream_batches``, carried forward by EVERY commit), so it
        survives ``expire_snapshots`` (ADVICE r5: the old operation-string
        scan forgot batches once their snapshots were expired and a replay
        re-appended duplicate rows). The mark is KEYED by ``stream_id``
        (Iceberg keys by query id the same way): distinct streaming
        queries into one table must pass distinct ids to dedup
        independently. Within one identity, Structured Streaming epoch ids
        are strictly increasing, so a replay can only ever be of the mark
        itself — a batch id STRICTLY below the mark means a reset
        checkpoint (epochs restarted at 0) or a second query sharing the
        default identity, and silently skipping it would be silent data
        loss: it raises ``StreamBatchRegression`` instead (ADVICE r6).
        The operation-string scan stays as a belt-and-braces check over
        retained history.

        Concurrent replays of the SAME batch are safe: the loser's
        ``CommitConflict`` triggers a re-check, finds the winner's
        snapshot, drops its own staged files, and skips."""
        sid = stream_id or _DEFAULT_STREAM
        op = (f"stream-append:batch={int(batch_id)}" if sid == _DEFAULT_STREAM
              else f"stream-append:stream={sid}:batch={int(batch_id)}")

        def committed() -> bool:
            hwm = self._stream_hwms(self.current_version()).get(sid, -1)
            if int(batch_id) < hwm:
                raise StreamBatchRegression(
                    f"stream '{sid}' batch {int(batch_id)} is below the "
                    f"committed high-water mark {hwm}: a replay can only "
                    f"be of the mark itself. This is a reset checkpoint "
                    f"or a second streaming query sharing the identity — "
                    f"pass a distinct stream_id per query/checkpoint.")
            if int(batch_id) == hwm:
                return True
            return any(self._manifest(v)["operation"] == op
                       for v in self._versions())

        def drop_staged(files) -> None:
            if files:
                shutil.rmtree(os.path.join(self.path, os.path.dirname(
                    files[0]["path"])), ignore_errors=True)

        if committed():
            return None
        schema_json = self._schema_json(df)
        new_files = self._stage_files(df.select(
            *[f["name"] for f in schema_json["fields"]]))
        for attempt in range(_retries + 1):
            # the dedup check must be bound to the head the commit is
            # planned against: read head FIRST, then scan history — any
            # same-batch commit that lands after the scan also bumps the
            # head past `head`, so our _commit(expected_parent=head) loses
            # the version claim and we re-check. (Checking only before the
            # loop is a TOCTOU hole: a racing replay's commit advances the
            # head we then plan against fresh, no conflict, duplicate rows
            # — caught by test_concurrent_same_batch_stream_appends_dedupe.)
            head = self.current_version()
            if committed():
                drop_staged(new_files)  # a concurrent replay won
                return None
            carried = [] if head is None else self._manifest(head)["files"]
            try:
                return self._commit(carried + new_files, op,
                                    self._refresh_schema(schema_json), head,
                                    stream_batch=int(batch_id),
                                    stream_id=sid)
            except CommitConflict:
                if attempt == _retries:
                    if committed():
                        drop_staged(new_files)
                        return None
                    raise
        raise AssertionError("unreachable")

    def overwrite(self, df: DataFrame) -> int:
        """Replace the whole table (delete-all + insert, S9)."""
        head = self.current_version()
        schema_json = self._schema_json(df)
        files = self._stage_files(df.select(
            *[f["name"] for f in schema_json["fields"]]))
        return self._commit(files, "overwrite", schema_json, head)

    def merge(self, source: DataFrame, mode: ImportMode) -> int:
        """Copy-on-write MERGE: apply an import-mode (J5-J7 set algebra)
        rewriting ONLY the data files whose doc_id stats intersect the
        source's documents; all other files carry over by reference.

        File pruning is a broadcast RANGE JOIN of the (small, driver-
        known) manifest stat ranges against the source's distinct doc
        ids — the driver collects only the TOUCHED FILE INDICES, bounded
        by manifest size, never the doc-id set itself (a 10^6-document
        import would otherwise pull 10^6 ids into a driver list and
        check them in an O(files × docs) Python loop)."""
        head = self.current_version()
        if head is None:
            return self.append(source)
        manifest = self._manifest(head)
        schema_json = self._schema_json(source)
        cols = [f["name"] for f in schema_json["fields"]]

        ranges = [(i, f["stat_min"], f["stat_max"])
                  for i, f in enumerate(manifest["files"])
                  if f["stat_min"] is not None]
        # files without stats are always rewritten (unpruned, correct)
        touched_idx = {i for i, f in enumerate(manifest["files"])
                       if f["stat_min"] is None}
        if ranges:
            stat_type = next(f["type"] for f in schema_json["fields"]
                             if f["name"] == _STAT_COL)
            rschema = StructType.fromJson({"type": "struct", "fields": [
                {"name": "_idx", "type": "integer", "nullable": False,
                 "metadata": {}},
                {"name": "_lo", "type": stat_type, "nullable": True,
                 "metadata": {}},
                {"name": "_hi", "type": stat_type, "nullable": True,
                 "metadata": {}}]})
            # an Arrow local relation (LocalTableScan): its broadcast
            # build starts no Python worker, as a list of tuples would
            rdf = self.spark.createDataFrame(pa.table(
                [list(c) for c in zip(*ranges)],
                schema=to_arrow_schema(rschema)))
            hits = (source.select(_STAT_COL).distinct()
                    .join(F.broadcast(rdf),
                          (F.col(_STAT_COL) >= F.col("_lo"))
                          & (F.col(_STAT_COL) <= F.col("_hi")))
                    .select("_idx").distinct().collect())
            touched_idx |= {r[0] for r in hits}
        touched = [f for i, f in enumerate(manifest["files"])
                   if i in touched_idx]
        carried = [f for i, f in enumerate(manifest["files"])
                   if i not in touched_idx]

        if touched:
            tdf = self.spark.read.schema(
                StructType.fromJson(schema_json)).parquet(
                *[os.path.join(self.path, f["path"]) for f in touched])
            rewritten = apply_mode(tdf, source.select(*cols), mode)
        else:
            rewritten = source.select(*cols)
        new_files = self._stage_files(rewritten.select(*cols))
        return self._commit(carried + new_files, f"merge:{ImportMode(mode).value}",
                            schema_json, head)

    def changes(self, from_version: int, to_version: int | None = None,
                include_rewrites: bool = False) -> DataFrame:
        """Incremental scan (Iceberg ``incremental read`` semantics): the
        rows of data files ADDED strictly after ``from_version`` up to and
        including ``to_version`` (default: head), with a ``_version``
        column naming the commit that added each row's file.

        Like Iceberg, an append-only range is exact CDC; a range that
        crosses an overwrite/merge/rewrite commit raises (those snapshots
        REPLACE files, so "added rows" over-reports) unless
        ``include_rewrites=True``, in which case rewritten files' rows are
        included and the caller owns the dedup."""
        if to_version is None:
            to_version = self.current_version()
        if to_version is None or from_version > to_version:
            raise ValueError(f"bad range v{from_version}..v{to_version}")
        if not os.path.exists(os.path.join(self._snap_dir,
                                           f"v{from_version}.json")):
            # expire_snapshots drops a PREFIX of history; an expired base
            # also means in-range parents are gone — fail with the cause
            # instead of a FileNotFoundError mid-scan
            raise ValueError(
                f"v{from_version} has been expired — incremental base lost "
                "(consumers must keep up with the expiry horizon)")
        versions = [v for v in self._versions()
                    if from_version < v <= to_version]
        picked: list[tuple[str, int]] = []
        for v in versions:
            m = self._manifest(v)
            op = m["operation"]
            is_append = op == "append" or op.startswith("stream-append:")
            if not is_append and not include_rewrites:
                raise ValueError(
                    f"v{v} is '{op}' — not an append; incremental rows "
                    "would over-report (pass include_rewrites=True to "
                    "accept rewritten files)")
            parent_files = set() if m["parent"] is None else {
                f["path"] for f in self._manifest(m["parent"])["files"]}
            picked += [(f["path"], v) for f in m["files"]
                       if f["path"] not in parent_files]
        schema = StructType.fromJson(self._manifest(to_version)["schema"])
        if not picked:
            return self.spark.createDataFrame([], schema).withColumn(
                "_version", F.lit(None).cast("int"))
        # one read per adding-commit (files of one commit share a version)
        parts = []
        by_v: dict[int, list[str]] = {}
        for path, v in picked:
            by_v.setdefault(v, []).append(os.path.join(self.path, path))
        for v, paths in sorted(by_v.items()):
            parts.append(self.spark.read.schema(schema).parquet(*paths)
                         .withColumn("_version", F.lit(v)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def compact_files(self, target_file_bytes: int = 128 * 1024 * 1024,
                      cluster_by: str | None = None) -> dict:
        """Bin-pack small data files (Iceberg ``rewrite_data_files``):
        rows are untouched — files under the target size are read back and
        rewritten as ~target-sized files; files already at or above the
        target carry over by reference. Commits a ``rewrite`` snapshot (a
        semantic no-op; ``changes`` treats it like any other replace).

        ``cluster_by`` additionally range-partitions the rewrite on that
        column (Iceberg sort-order rewrite): output files get DISJOINT
        min/max stats, so a later COW ``merge`` scoped to a few documents
        rewrites one file instead of all of them."""
        head = self.current_version()
        if head is None:
            raise ValueError(f"table {self.path} has no snapshots")
        m = self._manifest(head)
        small = [f for f in m["files"] if f["bytes"] < target_file_bytes]
        carried = [f for f in m["files"] if f["bytes"] >= target_file_bytes]
        if len(small) < 2:
            return {"version": head, "compacted": 0, "produced": 0}
        schema = StructType.fromJson(m["schema"])
        total = sum(f["bytes"] for f in small)
        n_out = int(max(1, -(-total // target_file_bytes)))
        df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f["path"]) for f in small])
        if cluster_by is not None:
            df = df.repartitionByRange(n_out, F.col(cluster_by)) \
                   .sortWithinPartitions(cluster_by)
        else:
            df = df.coalesce(n_out)
        new_files = self._stage_files(df)
        version = self._commit(carried + new_files, "rewrite",
                               m["schema"], head)
        return {"version": version, "compacted": len(small),
                "produced": len(new_files)}

    def rollback(self, version: int) -> int:
        """Commit a NEW snapshot whose file set is version's (history is
        append-only; Iceberg ``rollback_to_snapshot`` semantics)."""
        m = self._manifest(version)
        return self._commit(list(m["files"]), f"rollback:v{version}",
                            m["schema"], self.current_version())

    # -- maintenance ----------------------------------------------------------

    def remove_orphan_files(self, older_than_s: float = 3600.0) -> dict:
        """Delete data files referenced by NO snapshot — the staged output
        of writers that crashed before their commit — WITHOUT touching
        history (every version stays readable). Iceberg
        ``remove_orphan_files`` semantics, including the age guard: a file
        younger than ``older_than_s`` may belong to a writer that is
        between staging and committing, so it is left alone (Iceberg's
        ``older_than`` timestamp exists for exactly this race)."""
        live = set()
        for v in self._versions():
            live.update(f["path"] for f in self._manifest(v)["files"])
        removed = 0
        now = time.time()
        if os.path.isdir(self._data_dir):
            for sub in os.listdir(self._data_dir):
                d = os.path.join(self._data_dir, sub)
                for f in os.listdir(d):
                    full = os.path.join(d, f)
                    rel = os.path.relpath(full, self.path)
                    if (rel not in live
                            and now - os.path.getmtime(full) >= older_than_s):
                        os.unlink(full)
                        removed += 1
                if not os.listdir(d):
                    shutil.rmtree(d)
        return {"removed_files": removed}

    def expire_snapshots(self, keep_last: int = 1,
                         older_than_s: float = 3600.0) -> dict:
        """Drop all but the newest ``keep_last`` manifests and delete data
        files no surviving snapshot references (plus orphaned staging
        files from crashed writers).

        Files referenced only by the DROPPED manifests are history and
        deleted immediately. Files referenced by NO manifest at all get
        the same ``older_than_s`` mtime guard as ``remove_orphan_files``
        — ADVICE r5 (medium): a concurrent writer between ``_stage_files``
        and ``_commit`` has exactly such files, and deleting them would
        let its ``os.link`` commit succeed while pointing at vanished
        parquet — a torn table, the one thing the format promises away."""
        vs = self._versions()
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        live = set()
        for v in keep:
            live.update(f["path"] for f in self._manifest(v)["files"])
        dropped_refs = set()
        for v in drop:
            dropped_refs.update(f["path"] for f in self._manifest(v)["files"])
        dropped_refs -= live
        removed_files = 0
        now = time.time()
        if os.path.isdir(self._data_dir):
            for sub in os.listdir(self._data_dir):
                d = os.path.join(self._data_dir, sub)
                for f in os.listdir(d):
                    full = os.path.join(d, f)
                    rel = os.path.relpath(full, self.path)
                    if not f.endswith(".parquet") or rel in live:
                        continue
                    if rel in dropped_refs \
                            or now - os.path.getmtime(full) >= older_than_s:
                        os.unlink(full)
                        removed_files += 1
                if not any(x.endswith(".parquet") for x in os.listdir(d)):
                    shutil.rmtree(d)
        for v in drop:
            os.unlink(os.path.join(self._snap_dir, f"v{v}.json"))
        # a writer that crashed between manifest write and claim leaves a
        # .tmp-*.json behind (the claim's finally never ran) — sweep the
        # aged ones (same guard: a young .tmp may be mid-claim)
        for f in os.listdir(self._snap_dir) if os.path.isdir(self._snap_dir) else []:
            full = os.path.join(self._snap_dir, f)
            if f.startswith(".tmp-") \
                    and now - os.path.getmtime(full) >= older_than_s:
                os.unlink(full)
        return {"expired_snapshots": len(drop), "removed_files": removed_files}


class Catalog:
    """Name → table-path mapping with atomic RENAME (the reference's
    layer-table ``rename_table`` on reconcile, import_use_case.py:392-417).

    Mutations use the SAME claim-by-version ``os.link`` pattern as table
    manifests (ADVICE r5: the old single-file read-modify-write lost one
    of two concurrent creates — last save wins — stranding a table's data
    directory): the catalog is ``_catalog/v{N}.json``, a mutation claims
    v{N+1}, and a lost claim reloads + revalidates + retries, so
    concurrent creates/renames of DIFFERENT names all land and same-name
    races surface as the normal exists/missing errors. On a lakehouse
    this is the REST/Hive catalog's job."""

    _RETRIES = 16

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._dir = os.path.join(warehouse, "_catalog")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._dir):
            return []
        return sorted(int(m.group(1)) for f in os.listdir(self._dir)
                      if (m := _MANIFEST_RE.match(f)))

    def _load(self) -> tuple[dict, int | None]:
        vs = self._versions()
        if vs:
            with open(os.path.join(self._dir, f"v{vs[-1]}.json")) as f:
                return json.load(f), vs[-1]
        return {}, None

    def _save(self, tables: dict, expected: int | None) -> None:
        """Claim version expected+1 atomically; raises CommitConflict when
        another mutation claimed it first (caller reloads and retries)."""
        os.makedirs(self._dir, exist_ok=True)
        version = 0 if expected is None else expected + 1
        tmp = os.path.join(self._dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(tables, f)
        try:
            os.link(tmp, os.path.join(self._dir, f"v{version}.json"))
        except FileExistsError as e:
            raise CommitConflict(f"lost catalog race for v{version}") from e
        finally:
            os.unlink(tmp)

    def create(self, name: str) -> SnapshotTable:
        for _ in range(self._RETRIES):
            tables, head = self._load()
            if name in tables:
                raise ValueError(f"table {name!r} exists")
            path = os.path.join(self.warehouse, uuid.uuid4().hex)
            try:
                self._save({**tables, name: path}, head)
                return SnapshotTable(self.spark, path)
            except CommitConflict:
                continue
        raise CommitConflict(f"create {name!r}: catalog contention")

    def load(self, name: str) -> SnapshotTable:
        tables, _ = self._load()
        if name not in tables:
            raise KeyError(f"no table {name!r}")
        return SnapshotTable(self.spark, tables[name])

    def rename(self, old: str, new: str) -> None:
        for _ in range(self._RETRIES):
            tables, head = self._load()
            if old not in tables:
                raise KeyError(f"no table {old!r}")
            if new in tables:
                raise ValueError(f"table {new!r} exists")
            tables[new] = tables.pop(old)  # data never moves — pointer-only
            try:
                self._save(tables, head)
                return
            except CommitConflict:
                continue
        raise CommitConflict(f"rename {old!r}->{new!r}: catalog contention")

    def tables(self) -> dict:
        return self._load()[0]
