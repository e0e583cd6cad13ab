"""Manifest-based versioned parquet table: snapshot isolation, time
travel, rollback, and optimistic-concurrency commits on plain parquet
— the Delta/Iceberg commit protocol (public: Armbrust et al., "Delta
Lake: High-Performance ACID Table Storage over Cloud Object Stores",
VLDB 2020) re-expressed with nothing but directories and JSON.

The reference's sink discipline is delete-then-reinsert per window
(`pipeline_utils/documents_utils.py` target range delete + bulk
insert) — mutation in place, no history. This component gives the
same idempotent-overwrite contract PLUS history: every commit is a
new immutable manifest, readers pin a manifest and never see a
partial write, and rollback is a metadata-only commit.

Layout:

    <root>/data/<commit-uuid>/part-*.parquet     immutable data dirs
    <root>/_manifests/v00000001.json             {"version", "op",
                                                  "files": [dirs],
                                                  "parent", "ts"}

Protocol:

* A commit writes its data directory FIRST, then claims the next
  version by creating ``v{N}.json`` with O_EXCL. Creation is the
  atomic commit point: a crash before it leaves an unreferenced data
  dir (invisible garbage, reclaimed by ``vacuum``); two racing
  writers cannot both create the same manifest file, so the loser
  gets ``ConcurrentCommitError`` and retries on the new snapshot —
  exactly the optimistic-concurrency loop Delta runs on object
  stores.
* Readers list manifests, pick the highest complete one (or an
  explicit ``version=`` for time travel), and read only the dirs it
  names. Appends never rewrite old dirs, so old snapshots stay
  readable until vacuumed.
* ``rollback(v)`` commits a NEW manifest whose file list is v's —
  history moves forward only, the bad commit stays inspectable.

At 100 TB the same protocol holds: manifests are KB-sized JSON no
matter the data volume, and the one non-scalable piece here — listing
``data/`` in ``vacuum`` — is the piece real lakehouses move into the
manifest themselves (file-level listings), which ``files`` already is.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed this version first; re-read and retry."""


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest bookkeeping -----------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:08d}.json")

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All complete manifests, oldest first. Manifests are created
        by atomic link of fully-written temp files, so invalid JSON can
        only come from external interference — such a file is skipped
        for reads but still burns its version number (see
        ``_next_version``), which is harmless."""
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(self.manifest_dir, name)) as fh:
                    out.append(json.load(fh))
            except (OSError, ValueError):
                continue
        return out

    def current_version(self) -> int:
        """Latest READABLE version; 0 when the table has no commits."""
        hist = self.history()
        return hist[-1]["version"] if hist else 0

    def _next_version(self) -> int:
        """One past the highest version NUMBER present on disk — valid
        or not — so a corrupt manifest burns its slot instead of
        wedging every future commit on a FileExists collision."""
        versions = [0]
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    versions.append(int(name[1:-5]))
                except ValueError:
                    continue
        return max(versions) + 1

    # -- commit protocol ----------------------------------------------

    def _write_data(self, df: DataFrame) -> str:
        rel = os.path.join("data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    def _commit(self, files: list[str], op: str, extra: dict | None = None) -> int:
        """Claim the next version atomically: write the manifest to a
        temp file, then ``os.link`` it into place. The link either
        creates the final name with COMPLETE content or fails — there
        is no window in which a reader can observe a half-written
        manifest, and two racing writers cannot both link the same
        version (the loser raises ``ConcurrentCommitError``)."""
        version = self._next_version()
        manifest = {
            "version": version,
            "op": op,
            "files": files,
            "parent": self.current_version(),
            "ts": time.time(),
            **(extra or {}),
        }
        tmp = os.path.join(
            self.manifest_dir, f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError as exc:
            raise ConcurrentCommitError(
                f"version {version} already committed"
            ) from exc
        finally:
            os.remove(tmp)
        return version

    # -- write ops ----------------------------------------------------

    def append(self, df: DataFrame) -> int:
        """New version = previous file list + one new data dir."""
        rel = self._write_data(df)
        prev = self.history()
        files = (prev[-1]["files"] if prev else []) + [rel]
        return self._commit(files, "append")

    def overwrite(self, df: DataFrame) -> int:
        """New version references ONLY the new data dir; old versions
        keep reading their own dirs until vacuum."""
        rel = self._write_data(df)
        return self._commit([rel], "overwrite")

    def merge(
        self, source: DataFrame, keys: list[str], extra: dict | None = None
    ) -> int:
        """SCD1 MERGE commit: upsert ``source`` into the current
        snapshot (operators/relational.merge_upsert) and commit the
        result as a full rewrite. Copy-on-write, snapshot-isolated:
        concurrent readers of the old version are untouched."""
        from data_pipeline_001_spark.operators.relational import merge_upsert

        current = self.read()
        merged = merge_upsert(current, source, keys)
        rel = self._write_data(merged)
        return self._commit([rel], "merge", extra=extra)

    def rollback(self, to_version: int) -> int:
        """Metadata-only commit restoring ``to_version``'s file list."""
        target = self._read_manifest(to_version)
        return self._commit(target["files"], f"rollback:{to_version}")

    # -- read ops -----------------------------------------------------

    def read(
        self, version: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """The snapshot at ``version`` (default: latest).

        ``merge_schema`` unifies schemas ACROSS commits (columns added
        by later appends read as NULL in older dirs) — schema
        evolution without rewriting history. Off by default: the merge
        reads every dir's footer at planning time, which matters when
        a snapshot references thousands of commits."""
        if version is None:
            version = self.current_version()
        if version == 0:
            raise ValueError("table has no commits")
        manifest = self._read_manifest(version)
        paths = [os.path.join(self.root, rel) for rel in manifest["files"]]
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    # -- maintenance --------------------------------------------------

    def vacuum(
        self, keep_versions: int = 1, retention_seconds: float = 3600.0
    ) -> list[str]:
        """Drop data dirs referenced by NO retained manifest, and
        manifests older than the retention window. Returns removed
        dirs. Never touches dirs referenced by a kept version, so
        time travel within the window survives.

        ``retention_seconds`` is the in-flight-commit grace period
        (Delta's retention-hours analogue): a writer creates its data
        dir BEFORE linking the manifest, so an unreferenced dir younger
        than the window may belong to a commit in progress and is
        skipped. Pass 0 only when the caller holds exclusive access to
        the table (no concurrent writers).

        The newest ``batch_id``-bearing manifest is ALWAYS retained
        (round-10 advice): ``batch_already_committed`` dedups stream
        replays by walking manifests newest-first to the first stream
        commit, so if vacuum could prune every stream manifest (an
        interleaved batch commit followed by ``vacuum(keep_versions=1)``
        does exactly that), a replayed micro-batch would recommit and a
        fold sink would double-count. The retained manifest is the
        exactly-once high-water record — its DATA dirs are still
        reclaimable like any other unreferenced version's; only the
        commit record survives (Delta keeps ``txnAppId``/``txnVersion``
        in the live snapshot state the same way)."""
        hist = self.history()
        keep = hist[-keep_versions:] if keep_versions else hist
        stream_high = next(
            (m for m in reversed(hist) if "batch_id" in m), None
        )
        referenced = {rel for m in keep for rel in m["files"]}
        now = time.time()
        removed = []
        for name in os.listdir(self.data_dir):
            rel = os.path.join("data", name)
            if rel in referenced:
                continue
            path = os.path.join(self.root, rel)
            if retention_seconds > 0:
                try:
                    if now - os.path.getmtime(path) < retention_seconds:
                        continue  # possible in-flight commit
                except OSError:
                    continue
            shutil.rmtree(path, ignore_errors=True)
            removed.append(rel)
        for m in hist[: len(hist) - keep_versions if keep_versions else 0]:
            if stream_high is not None and m["version"] == stream_high["version"]:
                continue  # the stream high-water record must survive
            try:
                os.remove(self._manifest_path(m["version"]))
            except OSError:
                pass
        return removed


def batch_already_committed(table: VersionedTable, batch_id: int) -> bool:
    """True iff a commit bearing this ``batch_id`` is already on the
    manifest — the ONE replay check every streaming sink shares
    (foreachBatch is at-least-once; the manifest's atomic commit
    record is the exactly-once dedup point, the Delta
    ``txnAppId``/``txnVersion`` pattern on bare manifests).

    Batch ids from one checkpoint are strictly monotonic, so the check
    is against the NEWEST committed batch_id only (``replayed iff
    batch_id <= newest``) — found by walking manifests newest-first
    and stopping at the first stream commit. O(1) manifest reads per
    micro-batch instead of re-parsing the whole history (round-9
    advice: the O(versions)-per-batch scan compounds over a
    long-running stream). Assumes one streaming query per table — the
    same single-writer assumption the checkpoint itself carries;
    interleaved batch (non-stream) commits are skipped harmlessly."""
    for name in sorted(os.listdir(table.manifest_dir), reverse=True):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(table.manifest_dir, name)) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            continue
        if "batch_id" in m:
            return batch_id <= m["batch_id"]
    return False


def versioned_stream_sink(table: VersionedTable):
    """foreachBatch handler committing each micro-batch as one
    VersionedTable append — EXACTLY-ONCE streaming table writes on
    plain parquet.

    Structured Streaming's foreachBatch contract is at-least-once: a
    crash between the sink write and the checkpoint commit replays the
    batch. Here the manifest absorbs the replay: every commit records
    its ``batch_id``, and a replayed batch whose id already appears in
    history is skipped WITHOUT writing data — the dedup is on the
    atomic commit record itself, not on the data files, so a crash at
    any point (data written, manifest not linked) leaves only invisible
    garbage for ``vacuum``. This is the idempotent-foreachBatch pattern
    Delta's ``txnAppId``/``txnVersion`` implements, on bare manifests.

    Usage::

        q = (df.writeStream.foreachBatch(versioned_stream_sink(vt))
               .option("checkpointLocation", ckpt).start())
    """

    def handle(batch_df, batch_id: int) -> None:
        if batch_already_committed(table, batch_id):
            return
        rel = table._write_data(batch_df)
        prev = table.history()
        files = (prev[-1]["files"] if prev else []) + [rel]
        table._commit(files, "stream-append", extra={"batch_id": batch_id})

    return handle


def versioned_stream_merge_sink(table: VersionedTable, keys: list[str]):
    """foreachBatch handler UPSERTING each micro-batch into the table
    by key — streaming CDC materialization (a Kafka changelog keeping
    a lakehouse table current), with the same batch_id-on-the-manifest
    idempotency as ``versioned_stream_sink``: a replayed batch is
    skipped even though merge rewrites data, so the upsert applies
    exactly once. An empty table bootstraps from the first batch.

    Ordering note: within one micro-batch the LAST writer per key is
    not defined by arrival order — dedupe the batch on an event-time
    column upstream (e.g. ``dropDuplicates`` after a window max) when
    the changelog can carry multiple updates per key per trigger.
    """

    def handle(batch_df, batch_id: int) -> None:
        if batch_already_committed(table, batch_id):
            return
        if table.current_version() == 0:
            rel = table._write_data(batch_df)
            table._commit([rel], "stream-merge", extra={"batch_id": batch_id})
        else:
            table.merge(batch_df, keys, extra={"batch_id": batch_id})

    return handle


def versioned_stream_fold_sink(
    table: VersionedTable,
    keys: list[str],
    fold_cols: dict[str, str],
    max_rows: int | None = 10_000_000,
):
    """foreachBatch handler maintaining a per-key FOLD of the stream:
    each micro-batch's partial aggregates are merged into the current
    snapshot ((current ∪ partials) → groupBy keys → fold) and
    committed as a full rewrite. ``fold_cols`` maps column → one of
    ``sum`` / ``min`` / ``max`` — exactly the aggregates that are
    ASSOCIATIVE AND COMMUTATIVE, so any micro-batch split of the
    source yields the identical table (what lets a downstream rollup
    share code verbatim with its batch query; avg/count-distinct are
    NOT mergeable this way — carry sum+count / a distinct key set
    instead). Generalizes ``versioned_stream_additive_sink`` (sums)
    to min/max folds like exact-dedup's min-id survivor.

    Same batch_id-on-the-manifest idempotency as the other stream
    sinks, and the same enforced key-sized-table bound (``max_rows``,
    see the additive sink's docstring)."""
    from pyspark.sql import functions as F

    _OPS = {"sum": F.sum, "min": F.min, "max": F.max}
    bad = {c: op for c, op in fold_cols.items() if op not in _OPS}
    if bad:
        raise ValueError(f"unsupported (non-mergeable) fold ops: {bad}")
    aggs = [_OPS[op](c).alias(c) for c, op in fold_cols.items()]

    def handle(batch_df, batch_id: int) -> None:
        if batch_already_committed(table, batch_id):
            return
        part = batch_df.groupBy(*keys).agg(*aggs)
        if table.current_version() > 0:
            part = (
                table.read().unionByName(part).groupBy(*keys).agg(*aggs)
            )
        if max_rows is not None:
            part = part.localCheckpoint(eager=True)
            n = part.count()
            if n > max_rows:
                raise ValueError(
                    f"fold sink table has {n} keys > max_rows={max_rows}: "
                    "the per-batch fold is O(table) — this key set is "
                    "data-sized, not key-sized (raise/disable max_rows only "
                    "if that cost is intended)"
                )
        rel = table._write_data(part)
        table._commit([rel], "stream-fold", extra={"batch_id": batch_id})

    return handle


def versioned_stream_additive_sink(
    table: VersionedTable,
    keys: list[str],
    sum_cols: list[str],
    max_rows: int | None = 10_000_000,
):
    """foreachBatch handler maintaining per-key RUNNING SUMS: each
    micro-batch's partial sums are folded into the current snapshot
    ((current ∪ partials) → groupBy keys → sum) and committed as a
    full rewrite — safe because the maintained table is KEY-sized (a
    daily metric series, a per-window count ledger), never data-sized.
    Addition over exact integer metrics is associative and
    commutative, so any micro-batch split of the source yields the
    identical table — what lets a downstream rollup share code
    verbatim with its batch query. Same batch_id-on-the-manifest
    idempotency as the other stream sinks: a replayed batch is
    skipped even though the fold rewrites data, so every batch's
    contribution is added EXACTLY once under foreachBatch's
    at-least-once delivery.

    The key-sized assumption is ENFORCED, not hoped-for (round-9
    advice): the fold is O(table) per batch, so a data-sized key set
    (e.g. keying on an event id) silently degrades the stream to
    quadratic total work. ``max_rows`` bounds the maintained table —
    the fold's own exact count (one extra agg over the already-grouped
    result) raises loudly when crossed. Set ``None`` to disable for a
    legitimately huge key space you intend to pay for."""
    return versioned_stream_fold_sink(
        table, keys, {c: "sum" for c in sum_cols}, max_rows=max_rows
    )


# ---------------------------------------------------------------------
# Manifest statistics + pruned reads, and snapshot diff (CDC)
# ---------------------------------------------------------------------


def _dir_stats(df: DataFrame, stats_cols: list[str]) -> dict:
    """min/max per stats column for one data dir — one tiny agg job
    whose result lives in the manifest forever."""
    from pyspark.sql import functions as F

    aggs = []
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {c: [row[f"min_{c}"], row[f"max_{c}"]] for c in stats_cols}


class StatsVersionedTable(VersionedTable):
    """VersionedTable whose manifests carry per-data-dir min/max stats
    for declared columns, enabling DIRECTORY-level pruning before any
    parquet footer is opened — the manifest-side data skipping
    Iceberg/Delta do with file-level stats. Parquet row-group stats
    still prune WITHIN the surviving dirs; this layer removes the file
    listing + footer reads for dirs that can't match, which at 100 TB
    (thousands of commits) is the difference between a metadata lookup
    and a full-listing planning phase.
    """

    def __init__(self, spark: SparkSession, root: str, stats_cols: list[str]):
        super().__init__(spark, root)
        self.stats_cols = stats_cols

    def append(self, df: DataFrame) -> int:
        rel = self._write_data(df)
        stats = _dir_stats(self.spark.read.parquet(
            os.path.join(self.root, rel)), self.stats_cols)
        prev = self.history()
        files = (prev[-1]["files"] if prev else []) + [rel]
        dir_stats = dict(prev[-1].get("dir_stats", {})) if prev else {}
        dir_stats[rel] = stats
        return self._commit(files, "append", extra={"dir_stats": dir_stats})

    def read_pruned(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Snapshot read of rows with ``col`` in [lo, hi], scanning
        ONLY data dirs whose manifest stats overlap the range. Dirs
        committed without stats for ``col`` are conservatively kept.
        The residual filter still applies (stats prune dirs, not
        rows)."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.current_version()
        manifest = self._read_manifest(version)
        all_stats = manifest.get("dir_stats", {})
        keep = []
        for rel in manifest["files"]:
            rng = all_stats.get(rel, {}).get(col)
            if rng is None or (rng[0] <= hi and lo <= rng[1]):
                keep.append(rel)
        if not keep:
            empty = self.read(version).where(F.lit(False))
            return empty
        df = self.spark.read.parquet(
            *[os.path.join(self.root, rel) for rel in keep]
        )
        return df.where(F.col(col).between(lo, hi))


def snapshot_diff(
    table: VersionedTable, from_version: int, to_version: int
) -> DataFrame:
    """Row-level change feed between two snapshots: rows only in the
    newer snapshot are ``insert``, only in the older are ``delete``
    (an update surfaces as delete + insert of the changed row). Bag
    semantics via exceptAll, so duplicate multiplicities diff
    correctly. Two shuffles over the two snapshots — the metadata-only
    shortcut (diffing manifests' file lists and scanning only
    changed dirs) applies when commits are append-only."""
    from pyspark.sql import functions as F

    old = table.read(from_version)
    new = table.read(to_version)
    inserted = new.exceptAll(old).withColumn("_change", F.lit("insert"))
    deleted = old.exceptAll(new).withColumn("_change", F.lit("delete"))
    return inserted.unionByName(deleted)


def optimize_zorder(
    table: VersionedTable,
    col_a: str,
    col_b: str,
    bits: int = 8,
    target_files: int = 16,
) -> int:
    """OPTIMIZE ZORDER as a versioned commit: rewrite the current
    snapshot clustered along the 2-D Z-curve
    (operators/relational.zorder_layout) and commit the result — same
    rows, new layout, so readers of prior versions are untouched and a
    bad rewrite is one ``rollback`` away. Pair with ``vacuum`` to
    reclaim the pre-optimize dirs once the retention window passes.
    """
    from data_pipeline_001_spark.operators.relational import zorder_layout
    from pyspark.sql import functions as F

    current = table.read()
    clustered = zorder_layout(
        current, F.col(col_a), F.col(col_b), bits=bits,
        target_files=target_files,
    )
    rel = table._write_data(clustered)
    return table._commit([rel], f"optimize-zorder:{col_a},{col_b}")


# ---------------------------------------------------------------------
# Windowed Sink adapter: the pipeline's target as a versioned table
# ---------------------------------------------------------------------


class VersionedTableSink(VersionedTable):
    """The engine's windowed Sink contract (S5/S6/S7/A4 —
    sources/base.py) on versioned commits, one data dir per window:

    * ``load`` commits the window's rows and DROPS any prior dirs for
      the same window from the file list — the reference's
      delete-then-reinsert (target/target_cleaner.py:7-69) becomes a
      single atomic commit, and the pre-reload state stays
      time-travelable;
    * ``clean`` is a METADATA-ONLY commit (the window's dirs leave the
      file list; bytes wait for vacuum) — a range delete with no
      delete job;
    * ``count``/``read_window`` scan ONLY the window's dirs — partition
      pruning via the manifest, no directory listing of the table.

    Implements the abstract Sink surface structurally (same method
    signatures); it does not inherit the ABC to keep the lakehouse
    module importable without the connector layer.

    Use the WINDOWED ops exclusively on a sink table: the base-class
    write ops (append/overwrite/merge) commit without a ``windows``
    map, which resets window bookkeeping to empty for subsequent
    exists/clean/count — by design (an overwrite really did replace
    every window), but surprising if mixed casually.
    """

    def __init__(self, spark: SparkSession, root: str, ts_col: str = "ts"):
        super().__init__(spark, root)
        self.ts_col = ts_col

    @staticmethod
    def _wkey(start) -> str:
        return start.isoformat()

    def _windows(self) -> dict:
        hist = self.history()
        return dict(hist[-1].get("windows", {})) if hist else {}

    def _commit_windows(self, windows: dict, op: str) -> int:
        files = [rel for rels in windows.values() for rel in rels]
        return self._commit(files, op, extra={"windows": windows})

    def load(self, df: DataFrame, start, end) -> None:
        key = self._wkey(start)
        rel = self._write_data(df)
        windows = self._windows()
        windows[key] = [rel]
        self._commit_windows(windows, f"window-load:{key}")

    def load_files(self, path: str, schema, start, end) -> None:
        """S5 from the staged window's Parquet files: read them through
        Spark with ``schema`` and commit them as ``load`` does."""
        self.load(self.spark.read.schema(schema).parquet(path), start, end)

    def load_windows(self, df: DataFrame, bounds) -> None:
        """S5 for a run's tagged windows (``Sink.load_windows``): one
        ``load`` commit per window."""
        from data_pipeline_001_spark.sources.base import Sink

        Sink.load_windows(self, df, bounds)

    def exists(self, start, end) -> bool:
        return self._wkey(start) in self._windows()

    def clean(self, start, end) -> None:
        key = self._wkey(start)
        windows = self._windows()
        if windows.pop(key, None) is not None:
            self._commit_windows(windows, f"window-clean:{key}")

    def read_window(self, start) -> DataFrame:
        rels = self._windows().get(self._wkey(start), [])
        if not rels:
            from pyspark.sql import functions as F

            return self.read().where(F.lit(False))
        return self.spark.read.parquet(
            *[os.path.join(self.root, rel) for rel in rels]
        )

    def count(self, start, end) -> int:
        rels = self._windows().get(self._wkey(start), [])
        if not rels:
            return 0
        return self.read_window(start).count()
