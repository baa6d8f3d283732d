"""`sif_table` streaming source — readStream over a SifTable's
version history, the complement of `streaming.stream_into_table`.

Each micro-batch is the table's CHANGE FEED between two committed
versions (SifTable.changes semantics: create/append groups and upsert
update batches; delete/compact emit nothing). Offsets ARE table
versions, so Structured Streaming's checkpoint gives exactly-once
delivery of every committed row with no file-listing heuristics — the
manifest chain is the log. Together with stream_into_table this
closes the loop: tables feed incremental pipelines that feed tables.

One planner, two readers: each micro-batch's files, their column ids
and its refusals come from ``table.feed_window`` — the function
SifTable.changes() plans with — over manifests read through the same
log store and decoder SifTable uses. So a stream and ``changes()``
over the same window cannot disagree: both refuse a version through
``table.feed_refusal`` (the ``fail_on_content_removal`` option and
the cdf mode's check of versions without a change file), and both
raise ChangeFeedIncompleteError for a window that reaches into a
vacuumed prefix or a reclaimed change file.

Built on PySpark 4's DataSource API (same extension point as
sources/custom.py — the reference's datasource.go:21-27 analogue).
Planner-side calls (schema, offsets, partition listing) read manifest
JSON straight off the shared filesystem; the DATA never touches the
driver — each changed parquet file becomes one InputPartition and the
executors read it with pyarrow, yielding Arrow batches.

Shared-FS contract (local/NFS/HDFS-mounted): the same one the epoch
stores and SifTable itself already require. Schema is pinned at
stream start (the latest manifest's DDL); later evolved columns are
ignored until a new stream starts — the usual streaming-source rule.

One consumer for the internal folds, and it is not a stream: the
aggregate view (mview.incremental_aggregate_view), the ANN index
maintainer (similarity.maintain_ivf_index_table) and the CDC merge
(streaming.stream.merge_changes_into_table) run through
``fold_table_changes``, a loop on one driver thread that plans each
window with ``feed_window``, reads it with SifTable.changes()' JVM
parquet reader and keeps Spark's offsets/commits checkpoint layout
(FoldQuery). It starts no streaming query, no Python streaming-source
runner and no data-source planner worker. Each fold begins with
``settle_changes`` (one materialization of the batch; its row count
and version window; each key's latest image), so all three share one
empty-window rule: an empty window commits nothing.

Usage:
    register_table_source(spark)
    stream = (spark.readStream.format("sif_table")
              .option("path", "/data/events_table").load())
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import deque
from collections.abc import Callable, Iterator
from functools import cache, partial
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import IntegerType, StringType, StructField, StructType
from pyspark.util import inheritable_thread_target

from sif_spark.logstore import store_for, strip_file_scheme

if TYPE_CHECKING:
    from sif_spark.table import SifTable


def _versions_on_disk(table_path: str) -> list[int]:
    from sif_spark.table import _log_versions

    return _log_versions(store_for(table_path), table_path)


def _load_manifest(table_path: str, version: int) -> dict:
    from sif_spark.table import _log_manifest

    return _log_manifest(store_for(table_path), table_path, version)


def _parquet_files(table_path: str, d: str) -> list[str]:
    """The parquet files of dir ``d`` in name order, listed through the
    table path's store. A missing dir (a group vacuumed under a pinned
    reader) raises FileNotFoundError instead of reading as empty."""
    log = store_for(table_path)
    names = sorted(n for n in log.list_names(d) if n.endswith(".parquet"))
    if not names and not log.exists(d):
        raise FileNotFoundError(d)
    return [f"{d}/{n}" for n in names]


class _GroupFilePartition(InputPartition):
    def __init__(self, file_path: str, version: int,
                 change_type: str | None = None,
                 colmap: dict | None = None,
                 dv: dict | None = None):
        self.file_path = file_path
        self.version = version
        # 'insert' = tag rows with this constant _change_type; None =
        # the file carries its own _change_type column (cdc change
        # files); only meaningful when the stream runs in cdf mode
        self.change_type = change_type
        # {schema_name: written_name_or_None} when the file predates a
        # column rename/drop (id-mapped at plan time); None = by-name
        self.colmap = colmap
        # deletion-vector spec for the file's OWNING group: {"gid",
        # "keys" (current names, key order), "files": [(dv parquet
        # file, {current_key: dv_written_name})]} — the worker
        # anti-filters rows whose key tuple is tombstoned for this
        # gid. None = no live dv touches this group (zero overhead).
        self.dv = dv


class _SifTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.table_path = strip_file_scheme(options["path"])
        self.schema = schema
        self.start_after = int(options.get("starting_version", 0))
        # backlog rate limit: at most N table versions per micro-batch
        # (a restart against a month of backlog must not become one
        # giant batch). The argless latestOffset() cannot see the
        # checkpoint — and is called BEFORE initialOffset — so the
        # anchor (the highest version ever PLANNED) persists in a
        # caller-supplied sidecar dir via the store's atomic replace.
        # planned >= committed always, so a restarted reader's capped
        # offsets never move backward and never stall.
        self.max_versions = int(options.get("max_versions_per_trigger", 0))
        # cdf: emit every row change with _change_type (insert/
        # update_preimage/update_postimage/delete) from the table's
        # materialized change files; fail_on_content_removal: stay an
        # append feed but REFUSE to plan past a version that replaced/
        # removed rows (the guard incremental MVs set)
        self.cdf = str(options.get("cdf", "false")).lower() == "true"
        self.guard = (
            str(options.get("fail_on_content_removal", "false")).lower()
            == "true"
        )
        self.anchor_dir = options.get("rate_anchor_dir")
        self._anchor_file = f"{self.anchor_dir}/anchor.json"
        # pin the head manifest alongside the schema: files written
        # under pre-rename names map BY ID to the pinned names; a
        # restarted stream re-pins both from the then-latest manifest
        vs = _versions_on_disk(self.table_path)
        self.head = _load_manifest(self.table_path, vs[-1]) if vs else {}
        if self.max_versions and not self.anchor_dir:
            raise ValueError(
                "max_versions_per_trigger needs rate_anchor_dir= (a "
                "writable sidecar path, e.g. <checkpoint>/sif_anchor)"
            )

    def _anchor(self) -> int:
        try:
            got = store_for(self.anchor_dir).read_bytes(self._anchor_file)
            return max(self.start_after, int(json.loads(got)["planned"]))
        except (OSError, ValueError, KeyError):
            return self.start_after

    def _write_anchor(self, planned: int) -> None:
        """Persist the highest version ever planned. MONOTONIC: never
        moves backward, so a transiently-low end (e.g. computed off a
        lost anchor) cannot lower the cap base under versions that
        were already delivered (ADVICE r10 medium)."""
        try:
            planned = max(planned, self._anchor())
            store_for(self.anchor_dir).replace(
                self._anchor_file, json.dumps({"planned": planned}).encode()
            )
        except OSError:
            pass  # degraded = uncapped next trigger; never wrong rows

    def initialOffset(self) -> dict:
        return {"version": self.start_after}

    def latestOffset(self) -> dict:
        versions = _versions_on_disk(self.table_path)
        latest = versions[-1] if versions else self.start_after
        if self.max_versions:
            latest = min(latest, self._anchor() + self.max_versions)
        return {"version": latest}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if self.max_versions:
            # rate-limit anchor: max(start, end) — ``start`` is the
            # checkpoint's committed offset, so even if the anchor
            # file was lost (latestOffset fell back to start_after and
            # produced a too-low end) the repair below re-seats the
            # anchor AT the committed high-water before any batch with
            # a regressed end can reach the offset WAL
            self._write_anchor(max(int(start["version"]), int(end["version"])))
        if int(end["version"]) < int(start["version"]):
            # a batch whose end regressed below the committed start
            # would commit a lower offset to the WAL and make the NEXT
            # batch re-deliver (start', end'] rows that already went
            # out — exactly-once violated silently. The anchor was
            # just repaired from ``start``; fail THIS query loudly and
            # a restart resumes exact from the checkpoint.
            raise ValueError(
                f"sif_table offset regressed: end v{end['version']} < "
                f"committed v{start['version']} (rate-limit anchor was "
                "lost?). Anchor re-seated from the checkpoint — restart "
                "the query to resume exactly-once."
            )
        from sif_spark.table import _written_names, feed_window

        # the batch feed's planner (SifTable.changes): it loads only the
        # manifests inside (start, end] — and, for a history that
        # predates column ids, those up to the bootstrap commit — and
        # starts no Spark job
        entries = feed_window(
            _versions_on_disk(self.table_path),
            partial(_load_manifest, self.table_path),
            int(start["version"]),
            int(end["version"]),
            head=self.head,
            cdf=self.cdf,
            guard=self.guard,
        )
        names = [f.name for f in self.schema.fields]
        parts: list[InputPartition] = []
        for e in entries:
            cmap = _written_names(e.col_ids, self.head.get("columns"), names)
            parts += [
                _GroupFilePartition(f, e.version, e.tag, cmap)
                for f in _parquet_files(self.table_path, e.path)
            ]
        return parts

    def read(self, partition: _GroupFilePartition) -> Iterator:
        # executor-side: one parquet file -> Arrow batches aligned to
        # the stream schema by NAME (missing columns null-filled,
        # extra columns dropped, types cast) + the commit version and,
        # in cdf mode, the _change_type (constant 'insert' for data
        # groups; the file's own column for cdc change files)
        yield from _aligned_arrow_batches(partition, self.schema, self.cdf)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; manifests are immutable


def _aligned_arrow_batches(
    partition: _GroupFilePartition, base: StructType, cdf: bool
) -> Iterator:
    """Executor-side read shared by the stream and batch readers: one
    parquet file → Arrow batches aligned BY NAME to ``base`` (missing
    columns null-filled, extra columns dropped, types cast), plus
    _commit_version (and _change_type in cdf mode) from the
    partition."""
    import pyarrow as pa
    import pyarrow.compute  # noqa: F401  (registers cast kernels)
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    extra = [StructField("_change_type", StringType(), False)] if cdf else []
    target = to_arrow_schema(
        StructType(
            base.fields
            + extra
            + [StructField("_commit_version", IntegerType(), False)]
        )
    )
    if partition is None:
        # a fully-pruned batch scan plans ZERO partitions; pyspark's
        # read worker substitutes [None] — a legitimate empty result,
        # not an error
        return
    table = pq.read_table(partition.file_path)
    n = table.num_rows
    colmap = getattr(partition, "colmap", None)
    cols = []
    for field in target:
        if field.name == "_commit_version":
            cols.append(pa.array([partition.version] * n, type=field.type))
            continue
        if field.name == "_change_type" and partition.change_type:
            cols.append(
                pa.array([partition.change_type] * n, type=field.type)
            )
            continue
        # id-mapped source name: files written before a rename carry
        # the old name; a dropped-and-readded column reads NULL from
        # old files (colmap entry None)
        src_name = (
            colmap.get(field.name, field.name) if colmap else field.name
        )
        if src_name is not None and src_name in table.column_names:
            cols.append(
                table.column(src_name).combine_chunks().cast(field.type)
            )
        else:
            cols.append(pa.nulls(n, type=field.type))
    out = pa.Table.from_arrays(cols, schema=target)
    dv = getattr(partition, "dv", None)
    if dv and out.num_rows:
        keys = list(dv["keys"])
        tomb = _dv_tombstones(dv["gid"], tuple(
            (f, tuple(sorted(kmap.items()))) for f, kmap in dv["files"]
        ), tuple(keys))
        if tomb is not None:
            import pandas as pd  # noqa: F401  (tomb is a pandas frame)

            rows = out.select(keys).to_pandas()
            hit = rows.merge(
                tomb.assign(__tomb=1), on=keys, how="left"
            )["__tomb"].isna()
            out = out.filter(pa.array(hit.to_numpy()))
    yield from out.to_batches()


# Worker-global tombstone cache (ADVICE r13 low): a dv-covered group
# usually holds several data files -> several partitions, and every
# partition used to re-read EVERY sidecar parquet and re-filter to its
# gid — O(data_files x dv_files) repeated I/O. Python workers are
# reused across tasks (spark.python.worker.reuse default), so a small
# keyed cache makes each (gid, sidecar set) load once per worker.
# Tombstone frames are small by contract (compact() reconciles);
# the cache is bounded and evicts FIFO.
_DV_CACHE: dict = {}
_DV_CACHE_MAX = 64


def _dv_tombstones(gid: str, files_key: tuple, keys: tuple):
    """The deduplicated tombstone key-frame for ``gid`` over the given
    sidecar files, cached per worker. None = no tombstones for gid."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    ck = (gid, files_key, keys)
    if ck in _DV_CACHE:
        return _DV_CACHE[ck]
    frames = []
    for fpath, kmap_items in files_key:
        kmap = dict(kmap_items)
        tb = pq.read_table(
            fpath, columns=["_gid"] + [kmap[k] for k in keys]
        )
        tb = tb.filter(pa.compute.equal(tb.column("_gid"), gid))
        if tb.num_rows:
            pdf = tb.to_pandas().rename(
                columns={kmap[k]: k for k in keys}
            )
            frames.append(pdf[list(keys)])
    tomb = (
        pd.concat(frames).drop_duplicates() if frames else None
    )
    if len(_DV_CACHE) >= _DV_CACHE_MAX:
        _DV_CACHE.pop(next(iter(_DV_CACHE)))
    _DV_CACHE[ck] = tomb
    return tomb


class _SifTableBatchReader(DataSourceReader):
    """Batch snapshot read of a SifTable with AUTOMATIC data skipping:
    pushed filters (Spark calls pushFilters during planning —
    spark.sql.python.filterPushdown.enabled, set by
    register_table_source) become per-column [lo, hi] bounds that
    prune whole groups from the MANIFEST's min/max stats before any
    file is listed — a plain SQL ``WHERE`` now skips like the bespoke
    read_between API (VERDICT r10 "Next round" #3). Every filter is
    returned to Spark for row-level re-application: pruning is an
    optimization, never the correctness input. The bounds go to
    table.prune_groups, the decision read_between and lookup make.

    Pruning is OPT-IN per load() — ``.option("pushdown", "true")`` —
    because Spark 4.1's PythonDataSourceV2 keeps ONE mutable readInfo
    per relation: a filtered query overwrites it (setReadInfo) and a
    later NO-FILTER query on the same DataFrame lineage reuses it
    stale (getOrCreateReadInfo), silently serving the pruned file list
    to a full scan. Verified empirically against this exact class
    (tests/test_table.py pins both modes). With the option off the
    reader absorbs nothing, every plan lists the full snapshot, and
    the JVM cache can only ever replay a correct plan; with it on,
    use one load() per filtered access pattern — the documented
    contract in docs/table.md."""

    def __init__(self, schema: StructType, options: dict):
        self.table_path = strip_file_scheme(options["path"])
        self.schema = schema
        self.version = (
            int(options["version"]) if options.get("version") else None
        )
        self.enable_prune = (
            str(options.get("pushdown", "false")).lower() == "true"
        )
        # col -> [lo, hi] conjunctive bounds (None = unbounded side),
        # in the manifest's JSON-stat form so comparisons are
        # like-vs-like with the stored group stats
        self._bounds: dict[str, list] = {}

    def _tighten(self, col: str, lo=None, hi=None) -> None:
        b = self._bounds.setdefault(col, [None, None])
        if lo is not None and (b[0] is None or lo > b[0]):
            b[0] = lo
        if hi is not None and (b[1] is None or hi < b[1]):
            b[1] = hi

    def pushFilters(self, filters: list) -> Iterator["Filter"]:
        from sif_spark.table import _stat_bound

        for f in filters:
            try:
                if self.enable_prune and isinstance(
                    f,
                    (
                        EqualTo,
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                        In,
                    ),
                ) and len(f.attribute) == 1:
                    col = f.attribute[0]
                    if isinstance(f, EqualTo):
                        v = _stat_bound(f.value)
                        self._tighten(col, lo=v, hi=v)
                    elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                        # strict > prunes with the inclusive bound —
                        # conservative (a group ending exactly at v
                        # survives and the row filter drops it)
                        self._tighten(col, lo=_stat_bound(f.value))
                    elif isinstance(f, (LessThan, LessThanOrEqual)):
                        self._tighten(col, hi=_stat_bound(f.value))
                    else:  # In
                        vs = [_stat_bound(v) for v in f.value]
                        if vs:
                            self._tighten(col, lo=min(vs), hi=max(vs))
            except (TypeError, ValueError):
                pass  # unprunable literal type: skip, never wrong
            # EVERY filter goes back to Spark for row-level
            # evaluation — group pruning only decides which files
            # to list
            yield f

    def partitions(self) -> list[InputPartition]:
        versions = _versions_on_disk(self.table_path)
        if not versions:
            raise FileNotFoundError(
                f"no committed snapshots under {self.table_path}"
            )
        v = self.version if self.version is not None else versions[-1]
        if v not in versions:
            raise ValueError(f"version {v} not in {versions}")
        m = _load_manifest(self.table_path, v)
        from sif_spark.table import (
            _dv_key_names,
            _key_cols,
            _written_names,
            prune_groups,
        )

        groups = prune_groups(m, self._bounds)
        # deletion vectors: resolve each live sidecar's parquet files
        # + key-name mapping at PLAN time, attach to every file
        # partition of a covered group — the worker applies the
        # anti-filter after alignment (merge-on-read)
        dv_keys = _key_cols(m)
        dv_by_gid: dict[str, list] = {}
        for d in m.get("dvs") or []:
            files = _parquet_files(self.table_path, d["path"])
            kmap = _dv_key_names(d.get("col_ids"), m.get("columns"), dv_keys)
            for gid in d["gids"]:
                dv_by_gid.setdefault(gid, []).extend(
                    (f, kmap) for f in files
                )
        parts: list[InputPartition] = []
        names = [f.name for f in self.schema.fields]
        for g in groups:
            gv = int(g["id"].split("-")[1])  # the version that minted it
            cmap = _written_names(g.get("col_ids"), m.get("columns"), names)
            dv = (
                {
                    "gid": g["id"],
                    "keys": dv_keys,
                    "files": dv_by_gid[g["id"]],
                }
                if g["id"] in dv_by_gid
                else None
            )
            parts += [
                _GroupFilePartition(f, gv, colmap=cmap, dv=dv)
                for f in _parquet_files(self.table_path, g["path"])
            ]
        return parts

    def read(self, partition: _GroupFilePartition) -> Iterator:
        yield from _aligned_arrow_batches(partition, self.schema, False)


class _SifWriteMessage(WriterCommitMessage):
    def __init__(self, file: str | None, rows: int, stats: dict):
        self.file = file
        self.rows = rows
        self.stats = stats  # col -> [lo, hi] in manifest JSON-stat form


_STAT_ARROW_KINDS = ("int", "uint", "float", "double", "bool", "string",
                     "large_string", "date", "timestamp")


def _arrow_col_minmax(col) -> tuple | None:
    """Arrow column → (lo, hi) in the manifest's JSON-stat form, or
    None when the type/values can't be order-compared after JSON
    round-tripping (mirrors table._stat_json exactly — the stats feed
    the SAME prune_groups decisions). Arrow has no min_max kernel for
    list, struct, map and dictionary columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from sif_spark.table import _STAT_SKIP, _stat_json

    try:
        mm = pc.min_max(col)
    except pa.ArrowNotImplementedError:
        return None
    lo = _stat_json(mm["min"].as_py())
    hi = _stat_json(mm["max"].as_py())
    if lo is _STAT_SKIP or hi is _STAT_SKIP:
        return None
    return (lo, hi)


class _SifTableBatchWriter(DataSourceArrowWriter):
    """``df.write.format("sif_table")`` — the write half of the SQL
    surface. mode('append') commits one new data group (exactly the
    append() manifest shape, so the change feed / streaming source /
    pruning stats all see it identically); mode('overwrite') commits a
    snapshot referencing ONLY the new group (old versions stay
    time-travelable until vacuum; an overwrite is unrepresentable in
    the change feeds and both feed guards refuse to cross it).

    Mechanics: executors stream Arrow batches straight into staged
    parquet files under <table>/_staging/<write_id>/ and return
    per-file row counts + min/max stats in their commit messages; the
    driver-side commit() (a sessionless Python worker — every file
    step goes through the table path's store, logstore.store_for, the
    same contract the planner already relies on) moves the staged files
    into a version-named group dir, builds its entry with
    table._group_entry (rows, bytes, stats, key pair, col_ids: the
    entry every SifTable group write builds) and publishes the manifest
    through table._publish — the one commit loop every SifTable writer
    uses. A lost CAS re-reads the head, re-checks
    the refusals below against it, renames the group dir to the next
    version through the store and re-puts; no executor work re-runs. A
    failure anywhere before the publish removes the staging dir and
    the moved group dir. ``txn_app``/``txn_epoch`` options give appends the same
    crash-replay idempotence as SifTable.append(txn=).

    Boundaries (raise, never corrupt): the incoming schema must equal
    the snapshot schema exactly (evolution goes through the
    SifTable API, which can plan widening casts); bucketed tables
    refuse DS writes (bucketBy owns their layout); groups written here
    carry range stats but no bloom (blooms are optional per group —
    probes only consult groups that have one)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import uuid

        self.table_path = strip_file_scheme(options["path"])
        self.schema = schema
        self.overwrite = overwrite
        self.key_col = options.get("key_col")
        self.txn = None
        if options.get("txn_app") is not None:
            self.txn = (str(options["txn_app"]), int(options["txn_epoch"]))
        self.write_id = uuid.uuid4().hex[:12]
        self.staging = os.path.join(self.table_path, "_staging", self.write_id)

    # -- executor side -------------------------------------------------------

    def write(self, iterator) -> _SifWriteMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.staging, exist_ok=True)
        writer = None
        rows = 0
        stats: dict[str, list] = {}
        # STICKY poison: once any batch's min/max is unusable for a
        # column, the column carries no stats for the whole file — a
        # re-created entry from a later batch would exclude earlier
        # batches' values and make pruning silently lose rows
        dead: set[str] = set()
        fpath = os.path.join(self.staging, f"part-{uuid.uuid4().hex}.parquet")
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                writer = pq.ParquetWriter(fpath, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
            tbl = pa.Table.from_batches([batch])
            for name in tbl.column_names:
                if name in dead:
                    continue
                col = tbl.column(name)
                kind = str(col.type)
                if not kind.startswith(_STAT_ARROW_KINDS):
                    continue
                mm = _arrow_col_minmax(col)
                if mm is None:
                    stats.pop(name, None)
                    dead.add(name)
                    continue
                cur = stats.get(name)
                if cur is None:
                    stats[name] = [mm[0], mm[1]]
                else:
                    # None = all-null batch: min/max of values seen so far
                    if mm[0] is not None and (cur[0] is None or mm[0] < cur[0]):
                        cur[0] = mm[0]
                    if mm[1] is not None and (cur[1] is None or mm[1] > cur[1]):
                        cur[1] = mm[1]
        if writer is None:
            return _SifWriteMessage(None, 0, {})
        writer.close()
        return _SifWriteMessage(fpath, rows, stats)

    # -- driver side -----------------------------------------------------------

    def commit(self, messages) -> None:
        # Error paths (bucketed-table / schema-mismatch ValueError,
        # CAS starvation) must reclaim the staging dir AND the group
        # dir already moved under data/ (under its latest name) —
        # Spark is not guaranteed to call abort() after a driver-side
        # commit failure, and vacuum never lists _staging, so the
        # orphans would accumulate forever (ADVICE r11 low). A dir
        # under data/ that never made a manifest is invisible to
        # readers, so removing it here is safe at any point before the
        # publish.
        self._fresh: list[dict] = []
        log = store_for(self.table_path)
        try:
            self._commit_inner(messages)
        except BaseException:
            log.delete(self.staging)
            for d in self._fresh:
                log.delete(d["path"])
            raise

    def _commit_inner(self, messages) -> None:
        import uuid

        from sif_spark.table import (
            _advance_txns,
            _ddl,
            _fresh_columns,
            _group_entry,
            _publish,
            next_manifest,
        )

        log = store_for(self.table_path)
        files = [m for m in messages if m is not None and m.file]
        total_rows = sum(m.rows for m in files)
        if not files and not self.overwrite:
            log.delete(self.staging)
            return  # empty append: no version
        # merge per-file stats (a column missing from ANY file's stats
        # carries no group stats — conservative, prune-safe)
        col_stats: dict[str, list] = {}
        if files:
            common = set(files[0].stats)
            for m in files[1:]:
                common &= set(m.stats)
            for c in common:
                los = [m.stats[c][0] for m in files if m.stats[c][0] is not None]
                his = [m.stats[c][1] for m in files if m.stats[c][1] is not None]
                col_stats[c] = [min(los) if los else None,
                                max(his) if his else None]
        ddl = _ddl(self.schema)
        versions = _versions_on_disk(self.table_path)
        head = _load_manifest(self.table_path, versions[-1]) if versions else {}
        if _advance_txns(head, self.txn) is None:
            log.delete(self.staging)
            return  # replayed epoch: committed no-op
        if files:
            v = head.get("version", 0) + 1
            gid = f"g-{v:010d}-000-{uuid.uuid4().hex[:8]}"
            gpath = f"{self.table_path}/data/{gid}"
            self._fresh.append({"id": gid, "path": gpath})
            for msg in files:
                log.rename(msg.file, f"{gpath}/{os.path.basename(msg.file)}")
            nbytes = log.data_bytes(gpath)

        def build(m: dict) -> dict:
            if m.get("bucket"):
                raise ValueError(
                    "bucketed tables own their layout — write through "
                    "SifTable.append(), which plans the bucketed write"
                )
            if m and m["schema"] != ddl:
                raise ValueError(
                    f"sif_table writer schema {ddl!r} != snapshot schema "
                    f"{m['schema']!r} — schema evolution goes through "
                    "the SifTable API"
                )
            key = m.get("key_col") or self.key_col
            columns = m.get("columns") if m else _fresh_columns(self.schema)
            new_groups = [
                _group_entry(
                    d["id"], d["path"], self.schema, total_rows, nbytes,
                    col_stats, col_stats.get(key), columns,
                )
                for d in self._fresh
            ]
            # an empty-frame OVERWRITE commits groups=[] (a readable
            # empty snapshot) — a zero-file group dir would make the
            # new latest version unreadable
            groups = new_groups if (self.overwrite or not m) else (
                m["groups"] + new_groups
            )
            # next_manifest carries dv/dvs EXACTLY like SifTable.append/
            # overwrite (ADVICE r13 high: a head published without its
            # dvs list silently resurrected every tombstoned row) and
            # the monotonic column-id watermark (the DS writer never
            # mints ids, but a later API-side drop/re-add relies on it)
            op = "overwrite" if self.overwrite else "append"
            return next_manifest(
                m, op if m else "create", groups, ddl, columns=columns,
                added=[g["id"] for g in new_groups],
                txns=_advance_txns(m, self.txn), key_col=key,
            )

        _publish(log, self.table_path, head, build, self._fresh, self.txn)
        self._fresh = []  # committed: now owned by readers
        log.delete(self.staging)

    def abort(self, messages) -> None:
        store_for(self.table_path).delete(self.staging)


class SifTableDataSource(DataSource):
    """``sif_table`` — batch-read a SifTable snapshot (with automatic
    manifest-stats data skipping under pushed filters) or stream its
    committed change feed."""

    @classmethod
    def name(cls) -> str:
        return "sif_table"

    def schema(self) -> str:
        # a DDL STRING, not a StructType: this runs in a sessionless
        # planner worker where _parse_datatype_string cannot run
        table_path = strip_file_scheme(self.options["path"])
        versions = _versions_on_disk(table_path)
        if not versions:
            raise FileNotFoundError(
                f"no committed snapshots under {table_path}"
            )
        v = (
            int(self.options["version"])
            if self.options.get("version")
            else versions[-1]
        )
        ddl = _load_manifest(table_path, v)["schema"]
        if str(self.options.get("cdf", "false")).lower() == "true":
            return f"{ddl}, _change_type string, _commit_version int"
        return f"{ddl}, _commit_version int"

    def reader(self, schema: StructType) -> DataSourceReader:
        if str(self.options.get("cdf", "false")).lower() == "true":
            raise ValueError(
                "cdf is a streaming option — for a batch CDC read use "
                "SifTable.changes(cdf=True)"
            )
        base = StructType(
            [f for f in schema.fields if f.name != "_commit_version"]
        )
        return _SifTableBatchReader(base, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _SifTableBatchWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        base = StructType(
            [
                f
                for f in schema.fields
                if f.name not in ("_commit_version", "_change_type")
            ]
        )
        return _SifTableStreamReader(base, self.options)


def register_table_source(spark: SparkSession) -> None:
    """Register the ``sif_table`` DataSource on this session.

    SIDE EFFECT (ADVICE r11): this also sets the SESSION-WIDE runtime
    conf ``spark.sql.python.filterPushdown.enabled=true`` — the batch
    reader implements pushFilters and Spark refuses to plan ANY
    pushdown-capable Python source while the conf is off, so
    registration without it would make every
    ``spark.read.format("sif_table")`` raise. The conf changes
    planning for every OTHER Python data source in the session too
    (their pushFilters starts being called — a behavior change, not a
    correctness change: the API contract requires unhandled filters to
    be yielded back)."""
    spark.dataSource.register(SifTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


# each consumer's feed mode as feed_window flags: cdf reads the change
# files; the two append feeds refuse (table.feed_refusal) a version an
# additive fold (no replaced or removed rows) or a keyed fold (no
# delete/overwrite/restore op) cannot consume
_FEED_FLAGS = {
    "cdf": {"cdf": True},
    "additive": {"guard": True},
    "keyed": {"guard": True, "keyed": True},
}

# Spark's streaming checkpoint layout: offsets/<n> ends with the source
# offset line, commits/<n> marks batch n folded; Spark keeps the last
# 100 of each and polls an idle source every 10 ms
_OFFSET_HEAD = 'v1\n{"batchWatermarkMs":0,"batchTimestampMs":%d,"conf":{}}\n'
_COMMIT_RECORD = 'v1\n{"nextBatchWatermarkMs":0}'
_RETAIN = 100
_MIN_POLL_S = 0.01
# a step's phases under the names of Spark's progress durations
_STEP_PHASES = (
    "latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets"
)


class FoldQuery:
    """A running change-feed fold (``fold_table_changes``): one daemon
    thread on the driver folds each window of the source's feed, and
    this handle is the slice of the StreamingQuery surface its callers
    use — ``processAllAvailable``, ``awaitTermination``, ``stop``,
    ``exception`` and ``recentProgress``.

    Each step lists the source log, picks the window ``(after, hi]``
    (capped by ``max_versions``), plans it with ``feed_window`` against
    the head manifest pinned at start, writes the offset record, reads
    the window with SifTable.changes()' JVM reader, calls
    ``fold(batch, epoch)`` (skipped for a window with no files) and
    writes the commit record. An epoch with an offset record but no
    commit record re-runs the same window under the same epoch."""

    def __init__(self, table: SifTable,
                 fold: Callable[[DataFrame, int], None],
                 checkpoint_dir: str, feed: str, starting_version: int,
                 max_versions: int):
        self._table = table
        self._fold = fold
        self._ck = strip_file_scheme(checkpoint_dir.rstrip("/"))
        self._log = store_for(self._ck, table.spark)
        self._flags = _FEED_FLAGS[feed]
        self._cdf = feed == "cdf"
        self._start = int(starting_version)
        self._cap = int(max_versions)
        self._head = table._load()
        self._epoch, self._after, self._pending = self._recover()
        self._progress: deque = deque(maxlen=_RETAIN)
        self._error: Exception | None = None
        self._stopping = self._wake = False
        self._alive = True
        self._cv = threading.Condition()
        self._thread = threading.Thread(
            target=inheritable_thread_target(table.spark)(self._run),
            name=f"sif-fold-{os.path.basename(table.path)}",
            daemon=True,
        )
        self._thread.start()

    # -- the StreamingQuery surface ---------------------------------------

    @property
    def recentProgress(self) -> list[dict]:
        """One entry per folded epoch (the last 100): ``batchId``,
        ``numInputRows`` (the window's recorded row counts) and
        ``durationMs`` split as Spark's progress reports are."""
        return list(self._progress)

    def processAllAvailable(self) -> None:
        """Block until every version on disk now is folded; raise the
        fold's error if the loop failed."""
        versions = self._table._versions()
        target = versions[-1] if versions else self._start
        with self._cv:
            self._wake = True
            self._cv.notify_all()
            while self._alive and self._after < target:
                self._cv.wait()
        if self._error is not None:
            raise self._error

    def awaitTermination(self, timeout: float | None = None) -> bool | None:
        self._thread.join(timeout)
        if self._error is not None:
            raise self._error
        return None if timeout is None else not self._thread.is_alive()

    def stop(self) -> None:
        """Stop after the step in flight; never raises."""
        with self._cv:
            self._stopping = True
            self._cv.notify_all()
        self._thread.join()

    def exception(self) -> Exception | None:
        return self._error

    # -- the loop --------------------------------------------------------------

    def _run(self) -> None:
        try:
            while not self._stopping:
                if self._step():
                    continue
                with self._cv:
                    if not (self._wake or self._stopping):
                        self._cv.wait(_MIN_POLL_S)
                    self._wake = False
        except Exception as e:  # any fold or planner error ends the query
            self._error = self._query_error(e)
        finally:
            with self._cv:
                self._alive = False
                self._cv.notify_all()

    def _step(self) -> bool:
        """Fold the next window; False when there is none."""
        from sif_spark.table import _log_manifest, feed_window

        t = self._table
        marks = [time.perf_counter()]
        versions = t._versions()
        hi = self._pending
        if hi is None:
            hi = versions[-1] if versions else self._after
            if self._cap:
                hi = min(hi, self._after + self._cap)
            if hi <= self._after:
                return False
        marks.append(time.perf_counter())
        entries = feed_window(
            versions, cache(partial(_log_manifest, t.log, t.path)),
            self._after, hi, head=self._head, exists=t.log.exists,
            **self._flags,
        )
        marks.append(time.perf_counter())
        if self._pending is None:
            self._write("offsets", _OFFSET_HEAD % (time.time() * 1000)
                        + json.dumps({"version": hi}))
        marks.append(time.perf_counter())
        if entries:
            self._fold(t._read_feed(entries, self._head, self._cdf), self._epoch)
        marks.append(time.perf_counter())
        self._write("commits", _COMMIT_RECORD)
        self._purge(self._epoch - _RETAIN)
        marks.append(time.perf_counter())
        ms = {
            k: round((b - a) * 1000)
            for k, a, b in zip(_STEP_PHASES, marks, marks[1:])
        }
        ms["triggerExecution"] = round((marks[-1] - marks[0]) * 1000)
        with self._cv:
            self._progress.append({
                "batchId": self._epoch,
                "numInputRows": sum(e.rows or 0 for e in entries),
                "durationMs": ms,
            })
            self._epoch, self._after, self._pending = self._epoch + 1, hi, None
            self._cv.notify_all()
        return True

    def _query_error(self, e: Exception):
        import traceback

        from pyspark.errors.exceptions.captured import StreamingQueryException

        err = StreamingQueryException(
            desc=f"change-feed fold of {self._table.path} failed in epoch "
                 f"{self._epoch}: {type(e).__name__}: {e}",
            stackTrace="".join(traceback.format_exception(e)),
        )
        err.__cause__ = e
        return err

    # -- the checkpoint --------------------------------------------------------

    def _batch_ids(self, kind: str) -> list[int]:
        names = self._log.list_names(f"{self._ck}/{kind}")
        return sorted(int(n) for n in names if n.isdigit())

    def _offset(self, n: int) -> int:
        text = self._log.read_text(f"{self._ck}/offsets/{n}")
        return int(json.loads(text.splitlines()[-1])["version"])

    def _recover(self) -> tuple[int, int, int | None]:
        """(next epoch, last folded version, the end of an epoch that
        has an offset record but no commit record, else None)."""
        offsets = self._batch_ids("offsets")
        if not offsets:
            return 0, self._start, None
        n = offsets[-1]
        if self._log.exists(f"{self._ck}/commits/{n}"):
            return n + 1, self._offset(n), None
        after = self._offset(n - 1) if n > 0 else self._start
        return n, after, self._offset(n)

    def _write(self, kind: str, text: str) -> None:
        self._log.replace(f"{self._ck}/{kind}/{self._epoch}", text.encode())

    def _purge(self, n: int) -> None:
        for kind in ("offsets", "commits") if n >= 0 else ():
            for name in (str(n), f".{n}.crc"):
                self._log.delete(f"{self._ck}/{kind}/{name}")


def fold_table_changes(
    spark: SparkSession,
    src_path: str,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    feed: str,
    starting_version: int = 0,
    max_versions_per_trigger: int = 0,
) -> FoldQuery:
    """Start the one change-feed consumer: hand each window of
    ``src_path``'s change feed (versions after ``starting_version``) to
    ``fold(batch, epoch_id)`` on a driver-side loop (FoldQuery), with
    no streaming query and no Python data-source process.

    ``feed`` is ``"cdf"`` (every row change with its ``_change_type``),
    ``"additive"`` or ``"keyed"`` (the append feed, refusing a version
    that replaced or removed rows, or only one that removed them).
    ``max_versions_per_trigger`` caps each window; an idle source is
    polled every ``_MIN_POLL_S``. ``checkpoint_dir`` keeps Spark's
    offsets/commits layout, so a checkpoint written by a ``sif_table``
    foreachBatch query resumes here. The fold starts with
    ``settle_changes`` and commits with ``txn=(app_id, epoch_id)``, so
    a replayed epoch is a no-op. A fold or planner error ends the loop
    and surfaces as a StreamingQueryException.

    Unlike a ``sif_table`` stream, starting a fold registers no data
    source, so it no longer sets the session-wide
    ``spark.sql.python.filterPushdown.enabled``."""
    from sif_spark.table import SifTable

    return FoldQuery(
        SifTable(spark, src_path), fold, checkpoint_dir, feed,
        starting_version, max_versions_per_trigger,
    )


def settle_changes(
    batch: DataFrame, keys: list[str] | None = None
) -> tuple[DataFrame, int, int | None, int | None]:
    """Materialize one change-feed micro-batch once; returns
    ``(frame, rows, lo, hi)``.

    ``rows`` and the ``lo``/``hi`` ``_commit_version`` window are the
    RAW batch's, observed on the same one ``localCheckpoint`` job, so
    every later action of the fold rescans the in-memory copy instead
    of re-reading the window's files. ``rows == 0`` is an empty window
    (deletes, compactions): the fold commits nothing. With ``keys`` the
    frame is each key's latest image: update pre-images dropped, then
    the row with the highest ``_commit_version`` per key (one version
    emits at most one terminal change per key, so the order is total).
    A frame without ``_commit_version`` reports ``lo = hi = None``."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n")]
    if "_commit_version" in batch.columns:
        aggs += [F.min("_commit_version").alias("lo"),
                 F.max("_commit_version").alias("hi")]
    frame = batch.observe(obs, *aggs)
    if keys:
        if "_change_type" in frame.columns:
            frame = frame.filter(F.col("_change_type") != "update_preimage")
        w = Window.partitionBy(*keys).orderBy(F.col("_commit_version").desc())
        frame = (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    frame = frame.localCheckpoint(eager=True)
    got = obs.get
    return frame, got["n"], got.get("lo"), got.get("hi")
