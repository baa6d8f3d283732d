"""Snapshot-isolated table layer over parquet — the storage surface a
100 TB pipeline needs the first time a nightly job overlaps a reader
(VERDICT r9 "Next round" #2).

The reference has no write path at all (go-sif terminates in Collect/
Accumulate — SURVEY.md §2.1); this module is north-star extension
surface in the spirit of the public lakehouse formats (Delta/Iceberg):
a versioned-manifest commit protocol over plain parquet, reduced to
what the epoch stores already proved under fault injection, plus
snapshot reads, time travel, schema evolution on read, key-range file
skipping for upserts, and compaction that is safe under a concurrent
reader.

Layout:

    <table>/
      _manifests/v0000000001.json   # one JSON per snapshot
      data/g-<version>-<seq>-<id>/  # immutable parquet file groups

Commit protocol — the ONLY mutation is manifest creation. Every
SifTable op runs one core, ``SifTable._op_once``: load the head, skip
a replayed txn, the op's plan, then

1. write the plan's new dirs (data groups, a change file, a
   deletion-vector sidecar) as ONE parallel wave through one directory
   writer, ``_write_dir`` (no _SUCCESS marker: the manifest gates
   visibility);
2. publish the manifest at `v<N+1>.json` via the table's LogStore
   (logstore.py) — an atomic put-if-absent, so two writers racing to
   version N+1 get exactly one winner (optimistic concurrency). Every
   writer publishes through ONE function, ``_publish``: the loser
   re-reads the head and, when its plan's rebase rule allows it,
   renames its fresh dirs to the next version and re-puts without
   re-running a job (append, overwrite, the keyed ops, the `sif_table`
   writer); otherwise — and always for create, delete, compact,
   restore and rename/drop column — it raises ConcurrentCommitError
   and the op's retry re-runs it on the new snapshot. A SIGKILL
   anywhere before the publish leaves orphan data dirs and/or a .tmp
   manifest, both invisible to every reader. The default store is the link(2)
   conditional put for local paths (kernel-atomic; Hadoop's LOCAL
   rename is POSIX rename(2) under a check-then-act wrapper) and
   Hadoop tmp+rename for schemed paths (atomic-and-exclusive by HDFS
   contract); S3-class stores plug in a ConditionalPutLogStore — same
   division of labor as Delta's LogStore, proven here under an
   adversarial non-atomic-rename shim (tests/test_logstore.py).

Snapshot isolation: a reader resolves a manifest once (`read()` pins
the version it saw; `read(version=N)` is explicit time travel) and
only ever lists that manifest's group dirs. Writers never modify or
delete committed groups — `compact()` writes NEW groups and a NEW
manifest, so a reader pinned on the old snapshot keeps collecting
correct rows mid-compaction; only `vacuum()` physically deletes, and
only groups unreferenced by every retained version.

Schema evolution: each manifest records the snapshot's schema (DDL)
and each group records the schema it was WRITTEN with. `append()`
merges schemas (new columns appended; int→bigint / float→double
widening allowed, anything else raises); reads align every group to
the snapshot schema by NAME — missing columns come back NULL, widened
columns cast — so old files are never rewritten for a new column.

Scale: the manifest holds per-group row counts, min/max of the merge
key, and (opt-in: create(key_bloom=True)) a per-group key Bloom
filter, so `upsert()` rewrites only the groups that may actually hold
a matched key: range-disjoint groups skip on min/max, and
range-OVERLAPPING groups skip when no update key survives their bloom
(interleaved key layouts defeat min/max alone — every group overlaps
every batch). The nightly cost is O(batch + touched groups), not
O(table). One sessionless function, ``prune_groups``, makes every
group-skipping decision: read_between, lookup, the `sif_table` batch
reader's pushed filters, the keyed mutations' rewrite set and the
commit rebase's conflict check. Saturated blooms (>60 % fill) are
dropped, falling back to range-only — skipping is an optimization,
never a correctness input (false positive ⇒ harmless rewrite). Group
dirs are plain parquet: every scan benefit (pushdown, pruning,
row-group stats) is Spark's.

Keyed mutations: upsert, merge and delete_keys share ONE planner,
``SifTable._plan_keyed`` (key validation → source materialization →
the bounds ∥ bloom-probe wave → ``prune_groups``; a lost race rebases
through the conflict-granular ``_rebased``), retried by one wrapper
(``_retrying``); each op only plans what differs — the anti-join
survivor rewrite (upsert, copy-on-write delete_keys), merge's LEFT
join + CASE, or the deletion-vector sidecar (dv delete_keys,
delete-only merge). Every commit, including the `sif_table` DataSource
writer's, builds its manifest with ``next_manifest`` and each data
group's entry with ``_group_entry``: those field sets live there and
nowhere else.

Reference: sif datasource/file/file_datasource.go:24-47 is read-only
glob loading; the commit/resume contract here extends
sif_spark/pipeline.py's epoch stores (fault-injection-proven r9).
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid
from typing import Callable, NamedTuple

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sif_spark.logstore import store_for, strip_file_scheme

_MANIFESTS = "_manifests"
# Per-write Hadoop option (DataFrameWriter options merge into the write
# job's Hadoop conf): skip the _SUCCESS marker for table-internal dirs,
# whose visibility is gated by the manifest commit instead. NOT set
# globally — pipeline.py's epoch stores use _SUCCESS as their commit
# marker and must keep it.
_NO_SUCCESS_OPT = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def _parallel_jobs(*thunks):
    """Run independent Spark actions from driver threads (guide §2.6:
    the scheduler happily runs several jobs at once — a later job's
    tasks back-fill executors freed by the earlier job's tail, and two
    independent group writes overlap instead of serializing their
    commit latencies). Returns results in thunk order; the first
    failure propagates after all threads settle. Each pool thread runs
    with a copy of the caller's local properties (job group,
    description, scheduler pool) and job tags, so its jobs are
    attributed like the caller's own."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(SparkSession.active())
    if isinstance(inherit, SparkSession):  # pinned-thread mode off
        inherit = lambda t: t  # noqa: E731
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futs]

# per-group key Bloom filters (file skipping beyond min/max ranges),
# OPT-IN per table (create(key_bloom=True) — the same explicit-index
# posture as Delta's bloom indexes, so the default write path stays
# one job per group). Two seeded xxhash64 probes per key; the bitmap
# auto-sizes to ~16 bits/key (clamped 2 KiB..32 KiB base64 in the
# manifest); >60% fill stores nothing (range-only fallback).
_BLOOM_MIN_BITS = 1 << 14
_BLOOM_MAX_BITS = 1 << 18
_BLOOM_SEEDS = (1315423911, 2654435761)
_BLOOM_UPDATE_KEY_CAP = 100_000

# deletion-vector anti-join build side: broadcast below this many live
# tombstone rows (a dict of key tuples per executor — comfortably
# inside default executor memory), shuffled hash anti-join above it.
# compact() reconciling keeps real tables far below; the threshold
# removes the contract ASSUMPTION for tables that never compact.
_DV_BROADCAST_MAX_ROWS = 2_000_000


def _bloom_hash_cols(keys: list[str]) -> list:
    """Seeded probe hashes over the key TUPLE: one xxhash64 chain per
    seed, columns in key order — the write side and every probe side
    build the exact same expression, so the hash matches bit-for-bit
    (xxhash64 chains each column's hash as the next column's seed)."""
    return [
        F.xxhash64(*[F.col(k) for k in keys], F.lit(seed)).alias(f"h{i}")
        for i, seed in enumerate(_BLOOM_SEEDS)
    ]


# bloom ktype separator: "|" never appears in a Spark simpleString
# (commas do — decimal(10,2)), and splitting a legacy single-column
# ktype like "bigint" on it yields the same one-element list
_KTYPE_SEP = "|"


def _key_cols(m: dict) -> list[str]:
    """The table's merge-key columns: ``key_cols`` (composite,
    round 13) or the 1-ary ``key_col``. Empty = unkeyed table."""
    kc = m.get("key_cols")
    if kc:
        return list(kc)
    k = m.get("key_col")
    return [k] if k else []


def _bloom_bits_for(rows: int) -> int:
    m = _BLOOM_MIN_BITS
    while m < 16 * max(1, rows) and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def _bloom_of(df: DataFrame, keys: list[str], rows: int) -> dict | None:
    """{"m": bits, "bits": base64 bitmap, "ktype": hashed dtype(s)} of
    every key tuple's probe positions, or None when saturated. One
    column-pruned scan of the group's key column(s). ``ktype`` records
    the EXACT dtype(s) the hashes were computed over, "|"-separated in
    key order (xxhash64 is type-sensitive: int and bigint hash
    differently), so probe-side hashing can cast to the same types
    even after a key column widens — otherwise every probe against a
    pre-widening group is a false negative and upsert silently
    duplicates keys (ADVICE r10 high)."""
    import base64

    import numpy as np

    m = _bloom_bits_for(rows)
    cap = int(0.6 * m)
    pos = (
        df.select(
            F.explode(
                F.array(
                    *[F.pmod(h, F.lit(m)) for h in _bloom_hash_cols(keys)]
                )
            ).alias("p")
        )
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(pos) > cap:
        return None
    bits = np.zeros(m // 8, np.uint8)
    idx = np.array([r["p"] for r in pos], np.int64)
    np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
    return {
        "m": m,
        "bits": base64.b64encode(bits.tobytes()).decode("ascii"),
        "ktype": _KTYPE_SEP.join(
            df.schema[k].dataType.simpleString() for k in keys
        ),
    }


def _bloom_maybe_contains(bloom: dict, hash_pairs) -> bool:
    """True iff ANY update key's probes are all set — the group may
    hold a matched key and must rewrite; False proves it cannot.
    ``hash_pairs`` are raw seeded xxhash64 values (mod applied here,
    per group, since bitmap sizes differ group to group)."""
    import base64

    import numpy as np

    m = int(bloom["m"])
    bits = np.frombuffer(base64.b64decode(bloom["bits"]), np.uint8)
    hit = np.ones(len(hash_pairs), bool)
    for i in range(len(_BLOOM_SEEDS)):
        # % with a positive modulus is non-negative in numpy — the
        # same contract as Spark's pmod used on the write side
        p = np.array([pair[i] for pair in hash_pairs], np.int64) % m
        hit &= ((bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1) == 1
    return bool(hit.any())


_STAT_SKIP = object()
_STAT_MAX_STR = 256  # strings longer than this carry no stats


def _stat_json(v):
    """A min/max aggregate value → its JSON-manifest form, or
    _STAT_SKIP when the type can't be order-compared after JSON
    round-tripping. date/timestamp become ISO strings — ISO order IS
    value order, so pruning comparisons stay lexicographic-correct."""
    import datetime as _dt

    if v is None:  # all-null column: keep as [null, null] (prunable)
        return None
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= _STAT_MAX_STR else _STAT_SKIP
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return _STAT_SKIP


def _stat_bound(v):
    """A caller-supplied pruning bound → the same JSON form used by
    _stat_json, so comparisons are like-vs-like. A string of any length
    compares: only the recorded stats are capped."""
    out = v if isinstance(v, str) else _stat_json(v)
    if out is _STAT_SKIP:
        raise TypeError(f"read_between cannot prune on values of {type(v)}")
    return out


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


class ChangeFeedIncompleteError(ValueError):
    """The requested change-feed window contains a version whose row
    removals/replacements are NOT representable in the requested mode —
    an upsert that replaced keys (or a delete / restore) on a table
    without ``cdf=True``. Raised instead of silently emitting an
    incomplete feed (the r10 mview silent-drift bug, now a typed
    error). Fix: recreate the table with ``create(..., cdf=True)`` and
    consume ``changes(cdf=True)`` / the `sif_table` source's
    ``cdf`` option. Also raised (by feed_window, for every reader)
    when the window reaches into a vacuumed prefix or a reclaimed
    change file."""


def prune_groups(
    m: dict, bounds: dict, probes: tuple[dict, str] | None = None
) -> list[dict]:
    """The groups of manifest ``m`` that MAY hold a row matching every
    bound, in manifest order: the one group-skipping decision behind
    read_between, lookup, the `sif_table` batch reader's pushed
    filters, the keyed mutations' rewrite set and the commit rebase's
    conflict check. Sessionless, so the DataSource planner runs it too.

    ``bounds`` maps a snapshot column to ``(lo, hi)`` in JSON-stat form
    (_stat_bound), either side None = open; a column mapped to None has
    no non-null value to match (an all-NULL key batch), so no group
    matches. A column the caller cannot stat-compare is simply left out.
    ``probes`` is _bloom_probe_sets' ``(hash pairs by ktype, snapshot
    ktype)``. Conservative: a group without stats for a column, with a
    bloom ktype the probes lack, or whose probe set was capped, stays;
    an all-NULL group, or one that never held the column's id, never
    matches (range and equality predicates reject NULL). 1-ary keyed
    tables also check the key column against ``key_min``/``key_max``."""
    if any(b is None for b in bounds.values()):
        return []
    columns = _columns_of(m)
    keys = _key_cols(m)
    key = keys[0] if len(keys) == 1 else None
    by_ktype, snap_kt = probes or ({}, None)
    out = []
    for g in m["groups"]:
        for col, (lo, hi) in bounds.items():
            st = _group_stat_range(columns, g, col)
            ranges = [] if st is None else [st]
            if col == key and g.get("key_min") is not None:
                ranges.append((g["key_min"], g["key_max"]))
            if any(
                (gmin is None and gmax is None)
                or (lo is not None and gmax is not None and gmax < lo)
                or (hi is not None and gmin is not None and gmin > hi)
                for gmin, gmax in ranges
            ):
                break
        else:
            bloom = g.get("key_bloom")
            kt = bloom.get("ktype", snap_kt) if bloom else None
            pairs = by_ktype.get(kt)
            if pairs is None or _bloom_maybe_contains(bloom, pairs):
                out.append(g)
    return out


# a data file's OWN path names the group that owns it — the deletion-
# vector anti-join tags rows with their group id in one expression,
# never one plan node per group (same trick as _VER_PAT)
_GID_PAT = r".*/(g-\d{10}-\d{3}-[0-9a-f]{8})/[^/]*$"


def _live_rows(g: dict) -> int:
    """A group's LIVE row count: file rows minus its deletion-vector
    tombstones. Every counter (replaced/deleted/history) must use
    this, never the raw file rows, on a dv table."""
    return int(g["rows"]) - int(g.get("dv_rows", 0))


def _carry_dvs(m: dict, groups: list[dict]) -> list[dict]:
    """The NEXT manifest's deletion-vector list: entries pruned to the
    gids still live in ``groups`` (a rewritten/compacted group's
    tombstones die with it — the rewrite already excluded them)."""
    live = {g["id"] for g in groups}
    out = []
    for d in m.get("dvs") or []:
        kept = [gid for gid in d["gids"] if gid in live]
        if kept:
            out.append({**d, "gids": kept} if kept != d["gids"] else d)
    return out


def _ddl(schema: T.StructType) -> str:
    """A schema as the manifest's DDL string (``name type, ...``), a
    name that is not a plain identifier in backticks (Spark's
    quoteIfNeeded rule), so that every DDL parses back."""
    return ", ".join(f"{_quote(f.name)} {_type_ddl(f.dataType)}" for f in schema.fields)


def _type_ddl(t: T.DataType) -> str:
    """``t.simpleString()`` with each nested struct field name quoted
    by _quote (simpleString leaves ``struct<a b:bigint>`` unparsable);
    pure Python, so a commit without a session can call it."""
    if isinstance(t, T.StructType):
        fields = (f"{_quote(f.name)}:{_type_ddl(f.dataType)}" for f in t.fields)
        return f"struct<{','.join(fields)}>"
    if isinstance(t, T.ArrayType):
        return f"array<{_type_ddl(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"map<{_type_ddl(t.keyType)},{_type_ddl(t.valueType)}>"
    return t.simpleString()


def _quote(name: str) -> str:
    if re.fullmatch(r"\w+", name, re.ASCII) and not name.isdigit():
        return name
    return "`" + name.replace("`", "``") + "`"


# the table-level spec every manifest carries forward, with its default
_SPEC = {
    "key_col": None, "key_cols": None, "bucket": None,
    "key_bloom": False, "cdf": False, "dv": False,
}
_CARRY = object()


def next_manifest(
    m: dict,
    op: str,
    groups: list[dict],
    schema: T.StructType | str,
    *,
    columns=_CARRY,
    added: list[str] = (),
    txns: dict | None = None,
    dvs: list[dict] | None = None,
    **fields,
) -> dict:
    """The manifest of the snapshot that follows ``m`` (``{}`` before a
    table's first commit) — the ONE place the manifest field set lives;
    every commit (the SifTable ops and the `sif_table` DataSource
    writer) builds its manifest here. Carries forward m's key spec,
    bucket, bloom, cdf and dv flags (a keyword in ``fields`` overrides
    any of them), its txn map and column ids unless given, and its
    deletion vectors pruned to ``groups`` (_carry_dvs) unless ``dvs``
    is given; renders ``schema`` (a StructType or DDL string) and
    stamps the monotonic ``last_column_id`` watermark on a
    columns-bearing manifest (legacy manifests stay legacy). The other
    ``fields`` (op counters, ``cdc``, ``restored_from``, ...) are
    recorded when not None."""
    out = {
        "version": int(m.get("version", 0)) + 1,
        "parent": m.get("version"),
        "op": op,
        **{f: fields.pop(f, m.get(f, d)) for f, d in _SPEC.items()},
        "txns": dict(m.get("txns", {})) if txns is None else txns,
        "added": list(added),
        "schema": schema if isinstance(schema, str) else _ddl(schema),
        "columns": m.get("columns") if columns is _CARRY else columns,
        "groups": groups,
        "dvs": _carry_dvs(m, groups) if dvs is None else dvs,
    }
    out.update((k, v) for k, v in fields.items() if v is not None)
    if out["columns"] is not None:
        out["last_column_id"] = _last_col_id_after(m, out["columns"])
    return out


def _advance_txns(m: dict, txn: tuple[str, int] | None) -> dict | None:
    """m's txn high-water map with ``txn=(app_id, epoch)`` recorded, or
    None when that epoch already committed — a crash-replay, which the
    caller turns into a no-op returning m's version."""
    txns = dict(m.get("txns", {}))
    if txn is not None:
        app_id, epoch = txn
        if int(txns.get(app_id, -1)) >= int(epoch):
            return None
        txns[app_id] = int(epoch)
    return txns


# lost races one publish rebases through before it gives up (each one
# means another writer committed a version in between)
_PUBLISH_TRIES = 30


def _publish(
    log,
    path: str,
    m: dict,
    build: Callable[[dict], dict],
    fresh: list[dict] = (),
    txn: tuple[str, int] | None = None,
) -> int:
    """Publish the snapshot after ``m`` through the log store's
    put-if-absent — the ONE manifest put of the table layer; every
    writer (the SifTable ops and the `sif_table` DataSource writer)
    commits here, and no Spark session is needed.

    Puts ``build(m)``. On a lost race it reloads the head ``h``
    (``{}`` while the table has no version): when ``h`` already holds
    ``txn``'s epoch (our own replay won) it returns ``h``'s version.
    Otherwise it renames each freshly written dir in ``fresh`` (dicts
    with a ``path`` and, for a data group, an ``id``; both updated in
    place) to ``h``'s successor version through ``log.rename``, since
    every feed derives _commit_version from the ``[gcd]-<version>-...``
    dir name, and puts ``build(h)``. ``build`` raises
    ConcurrentCommitError when the op cannot rebase onto ``h``, and a
    failed rename does too (ADVICE r13 medium: a manifest over
    re-minted paths that do not exist would be an unreadable committed
    version); the caller's _retrying then re-runs the whole attempt."""
    h = m
    for _ in range(_PUBLISH_TRIES):
        manifest = build(h)
        v = manifest["version"]
        if log.put_if_absent(
            _manifest_file(path, v),
            json.dumps(_intern_col_eras(manifest), indent=1),
        ):
            return v
        versions = _log_versions(log, path)
        h = _log_manifest(log, path, versions[-1]) if versions else {}
        if _advance_txns(h, txn) is None:
            return h["version"]  # our own replay won the race
        for d in fresh:
            head, name = d["path"].rsplit("/", 1)
            kind, _, rest = name.split("-", 2)
            new = f"{kind}-{int(h.get('version', 0)) + 1:010d}-{rest}"
            if new != name:
                try:
                    log.rename(d["path"], f"{head}/{new}")
                except OSError as e:
                    raise ConcurrentCommitError(
                        f"{e} — rebase abandoned, full retry required"
                    ) from e
                d["path"] = f"{head}/{new}"
                if "id" in d:
                    d["id"] = new
    raise ConcurrentCommitError(
        f"starved through {_PUBLISH_TRIES} commit races — full retry"
    )


def _retrying(attempt, retries: int) -> int:
    """Run one optimistic attempt up to ``retries`` times: a race
    _publish cannot rebase re-runs it against the fresh snapshot; the
    last loss propagates."""
    last: Exception | None = None
    for _ in range(retries):
        try:
            return attempt()
        except ConcurrentCommitError as e:
            last = e
    raise last  # type: ignore[misc]


class _Plan(NamedTuple):
    """One attempt's plan of a table op, run by the op core
    (SifTable._op_once)."""

    # the next snapshot's groups in order: kept entries, and the write
    # slots (str) whose data group lands in that place
    groups: list
    schema: T.StructType | str  # the next snapshot's schema
    columns: list[dict] | None  # its column ids; every write records by them
    # write slot -> frame: "cdc" a change file, "dv" a deletion-vector
    # sidecar, any other a data group (numbered in slot order)
    frames: dict = {}
    counts: Callable = lambda res: {}  # settled writes -> {counter: rows}
    fields: dict = {}  # further next_manifest fields (spec, txns, ...)
    # (m, h, kept groups) -> the kept groups on the head h that won the
    # race; None refuses every head but m
    rebase: Callable | None = None
    drop_empty: bool = False  # a zero-row data group stays an orphan


# the dir kind and parent dir of the write slots that are not data groups
_DIRS = {"cdc": ("c", "cdc"), "dv": ("d", "dv")}

# column types whose min/max a data group records for data skipping
_STAT_TYPES = (
    T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.FloatType,
    T.DoubleType, T.StringType, T.DateType, T.TimestampType, T.BooleanType,
)


def _group_entry(
    gid: str,
    path: str,
    schema: T.StructType,
    rows: int,
    nbytes: int,
    minmax: dict,
    key_range: tuple | None,
    columns: list[dict] | None,
    bloom: dict | None = None,
) -> dict:
    """A data group's manifest entry: the one place its fields are
    built, for the SifTable ops' groups and the `sif_table` writer's
    alike, with no session. ``minmax`` maps a column to its (min, max),
    raw or already in JSON-stat form (_stat_json keeps that form); a
    pair that cannot be order-compared records no stats. ``key_range``
    is a 1-ary key's (min, max), kept in the pruning-bound form
    (_stat_bound: dates and timestamps as ISO strings, strings at full
    length; a decimal key gets none). ``nbytes`` is the dir's exact data
    bytes, which size_bytes() and read()'s broadcast planning use."""
    out = {
        "id": gid, "path": path, "schema": _ddl(schema), "rows": rows,
        "bytes": nbytes,
    }
    stats = {c: [_stat_json(lo), _stat_json(hi)] for c, (lo, hi) in minmax.items()}
    stats = {c: b for c, b in stats.items() if _STAT_SKIP not in b}
    if stats:
        out["stats"] = stats
    if key_range is not None:
        try:
            out["key_min"], out["key_max"] = map(_stat_bound, key_range)
        except TypeError:
            pass
    if bloom is not None:
        out["key_bloom"] = bloom
    ids = _col_ids_for(columns, schema)
    if ids:
        out["col_ids"] = ids
    return out


def _tagged(df: DataFrame, change_type: str) -> DataFrame:
    return df.withColumn("_change_type", F.lit(change_type))


def _key_match(keys: list[str]):
    """The t/s equi-join condition on every key column."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"t.`{k}`") == F.col(f"s.`{k}`"))
    return cond


def _target_side(merged: T.StructType) -> list:
    return [F.col(f"t.`{f.name}`").alias(f.name) for f in merged.fields]


def _clause(c: bool | str):
    return F.expr(c) if isinstance(c, str) else F.lit(bool(c))


def _merge_inserts(
    source: DataFrame,
    matched_from: DataFrame | None,
    keys: list[str],
    merged: T.StructType,
    ins: bool | dict,
    ins_cond: str | None,
) -> DataFrame:
    """merge's NOT MATCHED rows: source rows whose key no row of
    ``matched_from`` holds (None: nothing can match), gated by
    ``ins_cond`` and projected by ``ins`` — True inserts the source row
    aligned to ``merged``, a mapping computes each listed column from
    SQL over ``s.*`` (unlisted columns NULL)."""
    s_new = (
        source
        if matched_from is None
        else source.join(
            matched_from.select(*keys).distinct(), on=keys, how="left_anti"
        )
    )
    if ins_cond is not None:
        s_new = s_new.alias("s").filter(
            F.coalesce(F.expr(ins_cond), F.lit(False))
        )
    if not isinstance(ins, dict):
        return _align(s_new, merged)
    return s_new.alias("s").select(
        *[
            (
                F.expr(ins[f.name]).cast(f.dataType)
                if f.name in ins
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in merged.fields
        ]
    )


# clock reads: Spark folds each to one literal per QUERY (so it reports
# them deterministic), but a group write and a change file are two
# queries
_CLOCK_NODES = frozenset(
    {"CurrentTimestamp", "Now", "CurrentDate", "LocalTimestamp", "CurrentTime"}
)


def _volatile(expr) -> bool:
    """True when the analyzed (JVM) expression can evaluate differently
    in two queries over the same rows."""
    if not expr.deterministic() or expr.nodeName() in _CLOCK_NODES:
        return True
    kids = expr.children()
    return any(_volatile(kids.apply(i)) for i in range(kids.length()))


def _group_stat_range(columns: list[dict] | None, g: dict, col: str):
    """The group's recorded (min, max) for snapshot column ``col`` in
    JSON-stat form, read under the group's WRITTEN name (a renamed
    column's stats keep the name it was written with). A group that
    never held the column id holds only NULLs: (None, None), as for an
    all-NULL column. None when no stats were recorded (never prune)."""
    stat_key = col
    if columns is not None:
        col_id = next(
            (c["id"] for c in columns if c["name"] == col), None
        )
        ids = g.get("col_ids")
        if col_id is not None and ids is not None:
            written = [w for w, i in ids.items() if i == col_id]
            if not written:
                return None, None
            stat_key = written[0]
    st = g.get("stats", {}).get(stat_key)
    return None if st is None else (st[0], st[1])


# ---------------------------------------------------------------------------
# schema merge / align
# ---------------------------------------------------------------------------

_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
}


def _scan_classes(
    entries: list[dict],
) -> list[tuple[dict | None, list[str], list[dict]]]:
    """Partition manifest entries (data groups or dv sidecars) into
    maximal same-plan-shape classes readable by ONE multi-path parquet
    scan: same recorded on-disk schema DDL and same written col_ids.
    Returns [(col_ids, [paths], [entries])] in first-seen order. An
    entry without a recorded ``schema`` forms its own class (legacy
    manifests — degenerates to the old per-entry scan, never wrong).

    This is the O(classes)-not-O(groups) read shape the change feed's
    _batched_tagged_read already uses (VERDICT r13 "What's wrong" #1):
    schema classes are bounded by the number of schema CHANGES in the
    table's history, not by the number of commits."""
    out: dict[tuple, list] = {}
    order: list[tuple] = []
    for e in entries:
        ddl = e.get("schema")
        ids = e.get("col_ids")
        key = (
            (ddl, tuple(sorted(ids.items())) if ids else None)
            if ddl is not None
            else (None, e.get("id") or e["path"])
        )
        slot = out.get(key)
        if slot is None:
            slot = out[key] = [ids, [], []]
            order.append(key)
        slot[1].append(e["path"])
        slot[2].append(e)
    return [tuple(out[k]) for k in order]


@functools.lru_cache(maxsize=256)
def _written_schema(ddl: str | None) -> T.StructType | None:
    """The schema a recorded DDL names, or None when it cannot be
    trusted: no DDL recorded (legacy entries), or one that does not
    round-trip through the parser and _ddl (a name such as "a b"
    recorded without the backticks _ddl now adds)."""
    if ddl is None:
        return None
    try:
        schema = T._parse_datatype_string(ddl)
    except ParseException:
        return None
    if isinstance(schema, T.StructType) and _ddl(schema) == ddl:
        return schema
    return None


def _scan(spark: SparkSession, ddl: str | None, paths: list[str]) -> DataFrame:
    """One multi-path parquet scan of files written with ``ddl``. Under
    the recorded schema Spark starts no footer-inference job (one per
    scan otherwise); a DDL _written_schema cannot trust falls back to
    inference."""
    schema = _written_schema(ddl)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _merge_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """Evolution-on-write rules: existing columns keep (or widen to)
    their type, new columns append. Narrowing/retyping raises — a
    typo'd column type should fail the job, not corrupt the table."""
    fields = {f.name: f for f in old.fields}
    order = [f.name for f in old.fields]
    for f in new.fields:
        if f.name not in fields:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
            order.append(f.name)
            continue
        have = fields[f.name].dataType.simpleString()
        want = f.dataType.simpleString()
        if have == want:
            continue
        if (have, want) in _WIDENINGS:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
        elif (want, have) in _WIDENINGS:
            pass  # incoming is narrower: keep the wide column type
        else:
            raise ValueError(
                f"column {f.name!r}: cannot evolve {have} -> {want} "
                "(only new columns and int->bigint/float->double widening)"
            )
    return T.StructType([fields[n] for n in order])


# logical-plan NODE names whose presence means re-evaluating the
# source costs a shuffle-bearing recompute per downstream action.
# Matched at tree-line starts (ADVICE r14 low: a bare substring test
# also fired on column/relation names containing a marker word — e.g.
# a field named `unionId` rendered inside a Project forced a needless
# checkpoint). Sort and FlatMapGroupsInPandas joined the list for the
# same reason the originals are on it (both repartition their input).
# Plain scan/filter/project pipelines are deliberately NOT matched:
# re-running them per action is cheaper than the extra materialization
# job (A/B'd at sf0.1 — with "Relation" matched the trivial-source
# entries q176/q184/q185 paid the checkpoint without a compensating
# win).
_WIDE_PLAN_NODE_RE = re.compile(
    r"^[\s+:\-]*(?:Join|Aggregate|Window|Generate|Union|Sort|"
    r"FlatMapGroupsInPandas)\b",
    re.MULTILINE,
)

_NARROW_LEAF_NODES = frozenset(
    {"Project", "Filter", "LogicalRDD", "LocalRelation", "Deduplicate"}
)

_PLAN_NODE_NAME_RE = re.compile(r"^[\s+:\-]*([A-Za-z]\w*)", re.MULTILINE)


def _plan_tree(df: DataFrame) -> str:
    """``df``'s optimized logical plan as a tree string. A planner
    error raises here, as the checkpoint that would follow raises it."""
    return df._jdf.queryExecution().optimizedPlan().treeString()


def _materialized_leaf_plan(df: DataFrame) -> bool:
    """True when ``df`` is a narrow pipeline over an already-
    materialized leaf (a localCheckpoint's LogicalRDD or an in-memory
    LocalRelation): re-running it per action is cheap by
    construction, so even a shuffle-light derived frame (e.g. a
    distinct over a 3-row key list) should not pay a checkpoint job
    (ADVICE r14 low)."""
    names = set(_PLAN_NODE_NAME_RE.findall(_plan_tree(df)))
    return bool(names) and names <= _NARROW_LEAF_NODES


def _materialize_source(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint a mutation's source batch when its plan
    is non-trivial (Delta's merge-source-materialization idea; guide
    §4.1). A keyed mutation runs SEVERAL actions over its source —
    bounds aggregate, bloom probe collect, the join/anti-join feeding
    each write, the cdc branches — and each action is its own query
    execution, so a source containing a shuffle or scan re-pays that
    full plan per action (q188's merge re-ran its 600k-row groupBy
    ~5x). Materializing once also pins ONE consistent snapshot of the
    source across all clauses. Sources that are already materialized
    pipelines (a localCheckpoint's LogicalRDD, an in-memory
    LocalRelation — the streaming folds' shape) skip the extra job."""
    if _WIDE_PLAN_NODE_RE.search(_plan_tree(df)) is not None:
        return df.localCheckpoint(eager=True)
    return df


def _align(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project ``df`` onto the snapshot schema BY NAME: missing columns
    NULL, widened columns cast, extra columns dropped — schema
    evolution on read, no file rewrites."""
    cols = []
    have = set(df.columns)
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# column ids (rename/drop support — VERDICT r11 "Next round" #3)
#
# Each snapshot manifest carries ``columns``: [{"id": N, "name": s}]
# parallel to the schema DDL, and every group (and cdc dir) records
# ``col_ids``: {written_name: id}. Reads align groups to the snapshot
# BY ID when both sides carry ids (so a rename is a metadata-only
# commit and pre-rename files surface under the NEW name), falling
# back to by-name for legacy groups — which is exactly correct for
# them, because ids are synthesized from the by-name correspondence
# the moment the first rename/drop happens (see _synthesize_col_ids).
# A dropped-then-re-added name gets a FRESH id, so old files' data
# can never resurface under the new column (Iceberg's rule).
# ---------------------------------------------------------------------------


# a DDL field: its name, quoted or not, then a type as simpleString
# renders it (a nested type, a multi-word type, or one word with an
# optional "(...)"); _DDL_FIRST is the first-token fallback
_DDL_FIELD = re.compile(
    r"(?:`((?:[^`]|``)*)`|(.+?)) +((?:array|map|struct)<.*>"
    r"|string collate \S+|interval(?: (?:year|month|day|hour|minute"
    r"|second)(?: to \w+)?)?|\w+(?:\(.*\))?)"
)
_DDL_FIRST = re.compile(r"(?:`((?:[^`]|``)*)`|(\S+)) *(.*)")


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """The top-level ``(name, type)`` fields of a manifest DDL (_ddl's
    ``name type, ...``), parsed without a session so the stream planner
    can call it: split at the commas outside backticks, <> and (); an
    unquoted name ends at the field's first space that leaves a whole
    type behind. That also reads a DDL written before _ddl quoted names
    (``k bigint, a b string``); a type _DDL_FIELD does not know keeps
    the first-token name."""
    fields, depth, start, quoted = [], 0, 0, False
    for i, ch in enumerate(ddl + ","):
        if ch == "`":
            quoted = not quoted  # a doubled `` toggles back
        if quoted:
            continue
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:
            field = ddl[start:i].strip()
            if field:
                q, plain, typ = (
                    _DDL_FIELD.fullmatch(field) or _DDL_FIRST.fullmatch(field)
                ).groups()
                name = plain if q is None else q.replace("``", "`")
                fields.append((name, typ))
            start = i + 1
    return fields


def _schema_names(ddl: str) -> list[str]:
    return [name for name, _ in _ddl_fields(ddl)]


def _quoted_ddl(ddl: str) -> str:
    """A manifest DDL in the quoted form _ddl writes. _log_manifest
    loads every manifest's schema through here, so a legacy unquoted
    name such as "a b", or a nested ``s struct<a b:bigint>``, parses,
    and the next manifest records it quoted."""
    return ", ".join(
        f"{_quote(name)} {_quoted_type(typ)}" for name, typ in _ddl_fields(ddl)
    )


def _quoted_type(typ: str) -> str:
    """A type string with every struct field name in _quote's form: a
    name is the text up to its ":" after a struct's "<" or ",", and one
    already in backticks passes through."""
    out, structs, name_next = [], [], False
    for tok in re.findall(r"`(?:[^`]|``)*`|[^`<>(),:]+|.", typ):
        if name_next:
            tok = tok if tok.startswith("`") else _quote(tok)
        elif tok in ("<", "("):
            structs.append(tok == "<" and out[-1:] == ["struct"])
        elif tok in (">", ")") and structs:  # unbalanced: the parser reports it
            structs.pop()
        name_next = tok in ("<", "(", ",") and bool(structs) and structs[-1]
        out.append(tok)
    return "".join(out)


def _columns_of(m: dict) -> list[dict] | None:
    """The manifest's column-id list, or None for legacy manifests
    (pure by-name semantics)."""
    return m.get("columns")


def _mint_floor(m: dict) -> int:
    """The highest column id this table is KNOWN to have ever minted:
    the manifest's monotonic ``last_column_id`` watermark (Iceberg's
    rule), belt-and-suspenders unioned with every id visible in live
    columns/groups for manifests written before the watermark existed.
    Fresh ids mint strictly above this. Scanning live state alone was
    insufficient (ADVICE r12 low): once every group carrying a dropped
    column's id is rewritten away, the id vanishes from view, and
    re-adding a same-named column would re-mint it — resurfacing the
    old bytes in changes() replay of pre-drop versions."""
    ids = [int(m.get("last_column_id", -1))]
    for c in m.get("columns") or []:
        ids.append(int(c["id"]))
    for g in m.get("groups", []):
        ids.extend(int(i) for i in (g.get("col_ids") or {}).values())
    return max(ids)


def _last_col_id_after(m_prev: dict, new_columns: list[dict] | None) -> int:
    """The ``last_column_id`` watermark for the NEXT manifest: the
    previous floor advanced past any id the new snapshot minted —
    never decreases (restore carries the HEAD's floor, not the
    restored version's)."""
    floor = _mint_floor(m_prev)
    if new_columns:
        floor = max(floor, max(int(c["id"]) for c in new_columns))
    return floor


def _fresh_columns(schema: T.StructType) -> list[dict]:
    """A new table's column ids: 0.. in schema order (the anchor of
    the rename/drop machinery), minted by SifTable.create and by the
    `sif_table` writer's first commit alike."""
    return [{"id": i, "name": f.name} for i, f in enumerate(schema.fields)]


def _next_columns(m: dict, merged: T.StructType) -> list[dict] | None:
    """The ``columns`` list for the NEXT manifest after evolving to
    ``merged``: existing names keep their ids, appended names mint
    fresh ids (strictly above the table's lifetime watermark — see
    _mint_floor). Legacy tables (no ids yet) stay legacy until a
    rename/drop bootstraps them — by-name alignment is already exact
    for every group they hold."""
    cols = _columns_of(m)
    if cols is None:
        return None
    by_name = {c["name"]: c for c in cols}
    next_id = _mint_floor(m) + 1
    out = []
    for f in merged.fields:
        c = by_name.get(f.name)
        if c is None:
            c = {"id": next_id, "name": f.name}
            next_id += 1
        out.append({"id": c["id"], "name": f.name})
    return out


def _col_ids_for(columns: list[dict] | None, df_schema: T.StructType) -> dict | None:
    """The ``col_ids`` record for a group being written with
    ``df_schema`` under snapshot ``columns``."""
    if columns is None:
        return None
    by_name = {c["name"]: c["id"] for c in columns}
    out = {
        f.name: by_name[f.name]
        for f in df_schema.fields
        if f.name in by_name
    }
    return out or None


def _intern_col_eras(m: dict) -> dict:
    """Serialization-side interning (VERDICT r12 "Next round" #8): a
    wide table with many live groups would otherwise carry
    groups × columns ``col_ids`` entries in EVERY manifest. Distinct
    id-maps (schema eras) are hoisted once into ``col_id_eras`` and
    each group stores a small ``col_era`` pointer —
    O(groups + eras × columns) manifest bytes, Iceberg's
    schema-id-per-file idea. _expand_col_eras undoes it at load, so
    every read path keeps seeing plain ``col_ids``. Returns a new
    manifest dict; the caller's in-memory copy is untouched."""
    eras: list[dict] = []
    keys: list[tuple] = []
    groups = []
    changed = False
    for g in m.get("groups", []):
        ids = g.get("col_ids")
        if not ids:
            groups.append(g)
            continue
        key = tuple(sorted(ids.items()))
        try:
            idx = keys.index(key)
        except ValueError:
            keys.append(key)
            eras.append(dict(ids))
            idx = len(eras) - 1
        g2 = {k: v for k, v in g.items() if k not in ("col_ids", "col_era")}
        g2["col_era"] = idx
        groups.append(g2)
        changed = True
    if not changed:
        return m
    out = dict(m)
    out["groups"] = groups
    out["col_id_eras"] = eras
    return out


def _expand_col_eras(m: dict) -> dict:
    """Load-side expansion of _intern_col_eras: rehydrate each
    group's ``col_ids`` from its era pointer (popped — a re-commit of
    carried groups re-interns against the NEXT manifest's era
    list)."""
    eras = m.get("col_id_eras")
    if eras:
        for g in m.get("groups", []):
            e = g.pop("col_era", None)
            if e is not None:
                g["col_ids"] = eras[e]
    return m


def _rename_map(written_ids: dict | None, columns: list[dict] | None) -> dict:
    """{written_name: current_name} for names whose id maps to a
    LIVE column under a different name. Empty = pure by-name."""
    if not written_ids or not columns:
        return {}
    id_to_cur = {c["id"]: c["name"] for c in columns}
    return {
        w: id_to_cur[i]
        for w, i in written_ids.items()
        if i in id_to_cur and id_to_cur[i] != w
    }


def _dead_written_names(written_ids: dict | None, columns: list[dict] | None) -> set:
    """Written names whose id no longer exists in the snapshot (the
    column was dropped): they must NOT align by name even if a
    same-named column was later re-added with a fresh id."""
    if not written_ids or not columns:
        return set()
    live = {c["id"] for c in columns}
    return {w for w, i in written_ids.items() if i not in live}


def _written_names(
    written_ids: dict | None, columns: list[dict] | None, names: list
) -> dict | None:
    """{name: the written name its values come from, or None for a
    NULL column} for each read name, resolved by column id. None when
    plain by-name alignment is already exact. Sessionless: the stream
    planner hands the map to its executors as is."""
    ren = _rename_map(written_ids, columns)
    dead = _dead_written_names(written_ids, columns)
    if not ren and not dead:
        return None
    cur_to_written = {cur: w for w, cur in ren.items()}
    # a written name claimed by a rename, or whose id was dropped,
    # must not ALSO serve a same-named (re-added, fresh-id) column
    blocked = dead | set(ren)
    return {
        n: cur_to_written.get(n, None if n in blocked else n) for n in names
    }


def _dv_key_names(
    ids: dict | None, columns: list[dict] | None, keys: list[str]
) -> dict:
    """{key: the name a deletion-vector sidecar written with col_ids
    ``ids`` stores it under}, so tombstones stay exact across a key
    rename. Sessionless: the `sif_table` batch reader uses it too."""
    names = _written_names(ids, columns, keys) or {}
    return {k: names.get(k, k) for k in keys}


def _align_ids(
    df: DataFrame,
    written_ids: dict | None,
    target: T.StructType,
    columns: list[dict] | None,
) -> DataFrame:
    """Id-aware group alignment: renamed columns surface under their
    CURRENT name, dropped-and-readded names stay NULL for old groups,
    everything else is _align's by-name contract."""
    return df.select(
        *_align_ids_select(df.columns, written_ids, target, columns)
    )


def _align_ids_select(
    have: list[str],
    written_ids: dict | None,
    target: T.StructType,
    columns: list[dict] | None,
) -> list:
    """The id-aware alignment as a SELECT LIST over a frame with
    columns ``have`` — shared by _align_ids and the batched
    change-feed read (which must keep the raw scan so
    _metadata.file_path stays referenceable)."""
    src = _written_names(written_ids, columns, target.fieldNames()) or {}
    cols = []
    have_set = set(have)
    for f in target.fields:
        w = src.get(f.name, f.name)
        if w is not None and w in have_set:
            cols.append(F.col(w).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return cols


# ---------------------------------------------------------------------------
# the change feed: one version→files rule and one removal rule, shared by
# SifTable.changes(), the sif_table stream reader and the mview fold. All
# sessionless functions over manifest dicts — the stream planner runs
# them in a Python worker with no Spark session.
# ---------------------------------------------------------------------------


def _manifest_file(path: str, version: int) -> str:
    return f"{path}/{_MANIFESTS}/v{version:010d}.json"


def _log_versions(log, path: str) -> list[int]:
    """The committed versions of the table at ``path``, ascending."""
    return sorted(
        int(n[1:-5])
        for n in log.list_names(f"{path}/{_MANIFESTS}")
        if n.startswith("v") and n.endswith(".json")
    )


def _log_manifest(log, path: str, version: int) -> dict:
    """Version ``version``'s manifest, with per-group col_ids
    rehydrated and its schema DDL in the quoted form _ddl writes."""
    m = _expand_col_eras(
        json.loads(log.read_text(_manifest_file(path, version)))
    )
    m["schema"] = _quoted_ddl(m["schema"])
    return m


# the manifest counters each op records (delete: delete_keys and delete)
_OP_COUNTERS = {
    "upsert": ("replaced_rows",),
    "merge": ("replaced_rows", "deleted_rows"),
    "delete": ("deleted_rows",),
}


def feed_refusal(m: dict, keyed: bool = False) -> None:
    """Raise ChangeFeedIncompleteError when manifest ``m``'s added
    groups are not the whole of its change, so a consumer that folds
    only added rows would drift silently (the r10 mview bug): a restore
    or overwrite (its diff is never materialized), or an upsert, delete
    or merge whose exact replaced_rows/deleted_rows counter is non-zero
    or unrecorded. ``keyed`` lets upserts pass: a consumer that keeps
    each key's latest image (the ANN index maintainer) folds an
    upsert's post-images as replacements. A merge never passes: its
    updated rows live in the rewritten group, which no feed carries."""
    v, op = m["version"], m.get("op")
    if op in ("restore", "overwrite"):
        raise ChangeFeedIncompleteError(
            f"version {v} is a {op} — its logical diff is not "
            "materialized; start the feed after it or rebuild the consumer"
        )
    if keyed and op == "upsert":
        return
    for counter in _OP_COUNTERS.get(op, ()):
        n = m.get(counter)
        if n is None or n > 0:
            raise ChangeFeedIncompleteError(
                f"version {v} ({op}) "
                f"{'replaced' if counter == 'replaced_rows' else 'removed'} "
                f"{'an unrecorded number of' if n is None else n} rows "
                "without a change file — the append feed carries only "
                "added rows (an upsert's post-images), never what they "
                "replaced or removed. Read with cdf=True on a table "
                "created with cdf=True."
            )


class FeedEntry(NamedTuple):
    """One dir of a version's change feed (feed_window's unit)."""

    version: int
    path: str  # a data group dir, or a cdc change-file dir
    ddl: str  # the schema its files were written with
    col_ids: dict | None  # written name → column id; None = by name
    tag: str | None  # 'insert'; None = the files carry _change_type
    rows: int | None = None  # the dir's recorded row count


def _bootstrap_ids(versions: list[int], load: Callable) -> dict | None:
    """The first columns-bearing manifest's by-name id assignment. A
    pre-bootstrap version aligned by name up to the bootstrap commit,
    so that correspondence IS its id map — the rule _bootstrap_columns
    applies to live groups. The bootstrap commit may itself be the
    rename/drop: its ``columns`` carry POST-change names, but its
    groups' synthesized col_ids record the by-name assignment as of the
    bootstrap moment, so they are overlaid (authoritative for written
    names, including the renamed-from or dropped name)."""
    for v in versions:
        m = load(v)
        if _columns_of(m) is not None:
            found = {c["name"]: c["id"] for c in m["columns"]}
            for g in m["groups"]:
                found.update(g.get("col_ids") or {})
            return found
    return None


def feed_window(
    versions: list[int],
    load: Callable,
    after: int,
    hi: int,
    head: dict | None = None,
    cdf: bool = False,
    guard: bool = False,
    keyed: bool = False,
    exists: Callable = os.path.isdir,
) -> list[FeedEntry]:
    """The change feed over versions (after, hi] as the dirs that carry
    it, in version order. ``versions`` lists every committed version,
    ascending; ``load(v)`` is the caller's manifest loader; ``head`` is
    the snapshot the consumer aligns to (default: version ``hi``).

    Per version: its added data groups, tagged 'insert'; with ``cdf``,
    its change file instead when it has one. Without a change file, a
    cdf feed holds every version to feed_refusal; an append feed does
    so only with ``guard`` (``keyed`` as in feed_refusal).

    Column ids per dir: its own record, else the head's record for the
    same (still live) group, else by name over its version's columns —
    or, for a version that predates column ids under a head that has
    them, by name over _bootstrap_ids (ADVICE r12 medium: aligning it by
    name against the post-rename head NULLed the renamed column).

    Raises ChangeFeedIncompleteError, naming the version or range, for
    a window that reaches into a vacuumed prefix, a reclaimed change
    file, a manifest without ``added``, or a refused version — never a
    silent gap."""
    first = versions[0] if versions else hi
    if after + 1 < first or hi < first:
        # versions are contiguous, so everything between ``after`` and
        # the oldest surviving manifest was vacuumed; ``hi < first``
        # is a window entirely inside the vacuumed prefix
        raise ChangeFeedIncompleteError(
            f"change-feed window ({after}, {hi}] needs versions "
            f"{after + 1}..{min(hi, first - 1)}, which were vacuumed — "
            f"rebuild the consumer or start after version {first - 1}"
        )
    head = load(hi) if head is None else head
    head_has_ids = _columns_of(head) is not None
    live = {g["id"]: g.get("col_ids") for g in head.get("groups", [])}
    boot: list = []

    def by_name(m: dict, ddl: str) -> dict | None:
        if _columns_of(m) is not None:
            ids = {c["name"]: c["id"] for c in m["columns"]}
        elif not head_has_ids:
            return None  # legacy end to end: by name is exact
        else:
            if not boot:
                boot.append(_bootstrap_ids(versions, load))
            ids = boot[0] or {}
        return {n: ids[n] for n in _schema_names(ddl) if n in ids} or None

    out = []
    for v in versions:
        if not after < v <= hi:
            continue
        m = load(v)
        if "added" not in m:
            raise ChangeFeedIncompleteError(
                f"version {v} predates the change feed (no 'added' "
                "record in its manifest)"
            )
        cdc = m.get("cdc") if cdf else None
        if cdc:
            if not exists(cdc["path"]):
                raise ChangeFeedIncompleteError(
                    f"version {v}'s change file was reclaimed by "
                    "vacuum(cdf_retain_last=...) — the CDC window "
                    f"({after}, {hi}] is no longer replayable; rebuild "
                    f"the consumer or start after version {v}"
                )
            # the change file REPLACES the added groups (it holds
            # inserts, pre/post-images and deletes in one dir)
            ids = cdc.get("col_ids") or by_name(m, cdc["schema"])
            out.append(FeedEntry(
                v, cdc["path"], cdc["schema"], ids, None, cdc.get("rows")
            ))
            continue
        if cdf or guard:
            feed_refusal(m, keyed=keyed and not cdf)
        by_id = {g["id"]: g for g in m["groups"]}
        for gid in m["added"]:
            g = by_id[gid]
            ids = g.get("col_ids") or live.get(gid) or by_name(m, g["schema"])
            out.append(FeedEntry(
                v, g["path"], g["schema"], ids, "insert", g.get("rows")
            ))
    return out


# ---------------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------------


class SifTable:
    """Handle on a versioned table directory. Cheap to construct —
    every operation re-resolves the latest committed manifest.

    ``log_store`` is the table's storage seam (logstore.py): the
    manifest commit protocol and every other file and directory step.
    Default (``store_for``): PosixExclLogStore (link(2) conditional put
    — the kernel-atomic primitive) for local/`file:` paths, and
    HadoopRenameLogStore (rename-CAS, atomic-and-exclusive by HDFS
    contract) for schemed paths. The local choice matters twice over:
    (a) Hadoop's LOCAL rename is java.io.File.renameTo — POSIX
    rename(2), which overwrites an existing destination; the deployed
    wrapper's fail-on-existing is a check-then-act, not a CAS — and
    (b) the `sif_table` DataSource writer (a sessionless Python
    worker) publishes through the link store, so all writers of a
    local table now share ONE atomic primitive. Pass a
    ConditionalPutLogStore for S3-class object stores."""

    def __init__(self, spark: SparkSession, path: str, log_store=None):
        self.spark = spark
        self.path = strip_file_scheme(path.rstrip("/"))
        self.log = log_store or store_for(self.path, spark)

    # -- manifest plumbing -------------------------------------------------

    def _versions(self) -> list[int]:
        return _log_versions(self.log, self.path)

    def _load(self, version: int | None = None) -> dict:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {self.path}")
        v = version if version is not None else versions[-1]
        if v not in versions:
            raise ValueError(f"version {v} not in {versions}")
        return _log_manifest(self.log, self.path, v)

    # -- the op core ----------------------------------------------------------

    def _op_once(
        self, op: str, plan: Callable, txn: tuple[str, int] | None = None
    ) -> int:
        """One attempt of a table op; every SifTable op runs this core:
        load the head (``{}`` for create) → skip a replayed ``txn`` →
        the op's ``plan(m)`` (a _Plan) → the plan's writes as ONE
        _parallel_jobs wave (independent jobs, so the wave overlaps
        them; guide §2.6) → _publish the successor manifest. A lost race
        rebases by the plan's rule, or refuses with ConcurrentCommitError
        (the caller's retry re-runs the attempt). A change file is
        SPECULATIVE: it is referenced only when the op's counters show a
        change, so a bloom/range false positive (no key matched) leaves
        it an invisible orphan — the artifact a pre-commit crash
        already leaves."""
        m = {} if op == "create" else self._load()
        if _advance_txns(m, txn) is None:
            return m["version"]  # replayed epoch: committed no-op
        p = plan(m)
        v = m.get("version", 0) + 1
        layout = {f: p.fields.get(f, m.get(f)) for f in _SPEC}
        seq = {s: i for i, s in enumerate(s for s in p.frames if s not in _DIRS)}
        res = dict(zip(p.frames, _parallel_jobs(*[
            functools.partial(
                self._write_dir, s, f, v, seq.get(s, 0), layout, p.columns
            )
            for s, f in p.frames.items()
        ])))
        counts = p.counts(res)
        counters = {c: int(counts.get(c, 0)) for c in _OP_COUNTERS.get(op, ())}

        def landed(s) -> bool:
            return isinstance(s, dict) or (
                s in res and not (p.drop_empty and int(res[s]["rows"]) == 0)
            )

        planned = [s if isinstance(s, dict) else res[s]
                   for s in p.groups if landed(s)]
        new = [res[s] for s in p.groups if isinstance(s, str) and landed(s)]
        dvs = [res["dv"]] if "dv" in res else []
        cdc = res.get("cdc") if any(counters.values()) else None

        def build(h: dict) -> dict:
            if h is m:
                groups = planned
            elif p.rebase is None:
                raise ConcurrentCommitError(
                    f"version {v} was committed by another writer — "
                    "re-read the table and retry"
                )
            else:
                kept = [g for g in p.groups if isinstance(g, dict)]
                groups = p.rebase(m, h, kept) + new
            return next_manifest(h, op, groups, p.schema, **{
                "columns": p.columns,
                "added": [g["id"] for g in new if g is res.get("ig")],
                "txns": _advance_txns(h, txn),
                "dvs": _carry_dvs(h, groups) + dvs,
                "cdc": cdc, **counters, **p.fields,
            })

        fresh = new + dvs + ([cdc] if cdc else []) if p.rebase else []
        return _publish(self.log, self.path, m, build, fresh, txn)

    def _write_dir(self, slot: str, df: DataFrame, version: int, seq: int,
                   m: dict, columns: list[dict] | None) -> dict:
        """Write ``df`` as the dir of write slot ``slot`` and return its
        manifest entry — the ONE directory writer: a change file under
        cdc/, a deletion-vector sidecar under dv/, or a data group under
        data/ laid out by the key spec, bucket and bloom flag of ``m``,
        each named ``[gcd]-<version>-<seq>-<hex8>`` (every feed derives
        _commit_version from that name) and its written columns
        recorded against the snapshot ``columns``.

        The row count, a data group's per-column min/max and a
        sidecar's group ids ride the WRITE job as one Observation (a
        read-back would scan every written dir a second time). No
        _SUCCESS marker: the manifest commit gates visibility, and the
        marker is pure commit-tail latency on every dir of every op."""
        from pyspark.sql import Observation

        kind, parent = _DIRS.get(slot, ("g", "data"))
        name = f"{kind}-{version:010d}-{seq:03d}-{uuid.uuid4().hex[:8]}"
        path = f"{self.path}/{parent}/{name}"
        keys, bucket = _key_cols(m), m.get("bucket")
        key = keys[0] if len(keys) == 1 and keys[0] in df.columns else None
        stat_cols, ranged = [], []
        if kind == "g":
            # per-column min/max for data skipping, and the 1-ary key's
            # pair (composite keys skip by the column ranges + the bloom)
            stat_cols = [f.name for f in df.schema.fields
                         if isinstance(f.dataType, _STAT_TYPES)]
            ranged = stat_cols + ([key] if key and key not in stat_cols else [])
        obs = Observation()
        agg = [F.count(F.lit(1)).alias("rows")]
        for c in ranged:
            agg += [F.min(c).alias(f"min::{c}"), F.max(c).alias(f"max::{c}")]
        if kind == "d":
            agg.append(F.collect_set("_gid").alias("gids"))
        w = df.observe(obs, *agg).write.mode("overwrite").option(
            _NO_SUCCESS_OPT, "false"
        )
        if kind == "g" and bucket:
            # bucketed group: hash-clustered files + a session-catalog
            # external table (the epoch stores' zero-shuffle layout), so
            # equi-joins/aggregations on the bucket column need no Exchange
            w.bucketBy(bucket["n"], bucket["col"]).option("path", path).format(
                "parquet"
            ).saveAsTable(self._group_table_name(path))
        else:
            w.parquet(path)
        row = obs.get
        if kind == "g":
            bloom = None
            if m.get("key_bloom") and keys and all(k in df.columns for k in keys):
                # one column-pruned scan of the freshly written group
                # (the key column(s) only); None when saturated
                bloom = _bloom_of(
                    self.spark.read.schema(df.schema).parquet(path), keys,
                    int(row["rows"]),
                )
            minmax = {c: (row[f"min::{c}"], row[f"max::{c}"]) for c in ranged}
            return _group_entry(
                name, path, df.schema, row["rows"], self.log.data_bytes(path),
                {c: minmax[c] for c in stat_cols}, minmax.get(key), columns,
                bloom,
            )
        out = {"path": path, "rows": int(row["rows"])}
        if kind == "d":
            out["gids"] = sorted(row["gids"])
        # the written DDL keys _scan_classes: dirs of one (schema,
        # col_ids) class read as ONE multi-path scan
        out["schema"] = _ddl(df.schema)
        ids = _col_ids_for(columns, df.schema)
        if ids:
            out["col_ids"] = ids
        return out

    def size_bytes(self, version: int | None = None) -> int:
        """Exact on-disk bytes of a snapshot — per-group ``bytes``
        recorded at write time; legacy groups (pre-round-12 manifests)
        fall back to one listing each, so the call is always exact."""
        m = self._load(version)
        total = 0
        for g in m["groups"]:
            b = g.get("bytes")
            total += int(b) if b is not None else self.log.data_bytes(g["path"])
        return total

    def _group_table_name(self, gpath: str) -> str:
        import hashlib

        return "sif_table_" + hashlib.md5(gpath.encode()).hexdigest()[:16]

    # -- public API ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_col: str | None = None,
        bucket_by: str | None = None,
        n_buckets: int | None = None,
        txn: tuple[str, int] | None = None,
        key_bloom: bool = False,
        cdf: bool = False,
        log_store=None,
        key_cols: list[str] | None = None,
        dv: bool = False,
    ) -> "SifTable":
        """``cdf=True`` enables the full change-data feed: upserts and
        deletes materialize their change file (pre-images, post-images,
        tombstones) at write time under <table>/cdc/, so
        ``changes(cdf=True)`` / the `sif_table` source's ``cdf`` option
        can emit every row change — the Delta CDF shape. Off (default),
        replacements/deletions are still COUNTED exactly in each
        manifest (replaced_rows/deleted_rows), so incremental consumers
        that assume append-only fail loudly instead of drifting.

        ``txn=(app_id, epoch)`` records the creating writer's epoch
        in the first manifest, so a crash-replay of the CREATING
        micro-batch is a no-op append, not a duplicate (see append()).

        ``bucket_by``/``n_buckets`` give the table a PERSISTENT
        bucket layout: every group (create/append/upsert/compact) is
        written hash-clustered on the column, `bucketed_frame()` reads
        a compacted snapshot with the bucket metadata attached (joins
        on the column plan ZERO Exchange on the table side — pinned in
        tests), and the spec lives in the manifest so it can never
        drift call-to-call (the pipeline stores' "bucket count is
        forever" contract, here enforced by construction)."""
        if bool(bucket_by) != bool(n_buckets):
            raise ValueError("bucket_by and n_buckets come together")
        if key_col and key_cols:
            raise ValueError("pass key_col= (1-ary) OR key_cols=, not both")
        keys = [key_col] if key_col else list(key_cols or [])
        if len(set(keys)) != len(keys):
            raise ValueError(f"duplicate names in key_cols={keys}")
        if key_cols:
            # the composite surface validates up front (the 1-ary path
            # keeps its lenient legacy contract); the REAL columns are
            # the identity — never a derived hash (the xxhash64-chain
            # pattern silently folds distinct business keys at
            # ~n^2/2^65 expected collisions: ~270 on a 10^11-row table)
            absent = [k for k in keys if k not in df.columns]
            if absent:
                raise ValueError(f"key_cols {absent} not in the frame")
        t = SifTable(spark, path, log_store=log_store)
        if t._versions():
            raise ValueError(f"table already exists at {path}")
        if key_bloom and not keys:
            raise ValueError(
                "key_bloom needs a table created with key_col=/key_cols="
            )
        if dv and not keys:
            raise ValueError(
                "dv=True (deletion vectors) needs a keyed table — "
                "tombstones identify rows by the merge key"
            )
        spec = {
            "key_col": keys[0] if len(keys) == 1 else None,
            "key_cols": keys if len(keys) > 1 else None,
            "bucket": {"col": bucket_by, "n": n_buckets} if bucket_by else None,
            "key_bloom": key_bloom,
            "cdf": cdf,
            "dv": dv,
        }
        # the txn is recorded, never checked: a create that loses the
        # race refuses whatever the winner holds
        t._op_once("create", lambda m: _Plan(
            ["ig"], df.schema, _fresh_columns(df.schema), {"ig": df},
            fields={**spec, "txns": _advance_txns({}, txn)},
        ))
        return t

    def bucketed_frame(self, version: int | None = None) -> DataFrame:
        """The snapshot WITH its bucket metadata — requires a bucketed
        table whose snapshot is exactly one group (i.e. post-compact):
        Spark's bucketed-scan co-location only holds for a single
        consistent file set, so a fragmented snapshot raises with the
        fix (compact()) named. Plain `read()` always works."""
        m = self._load(version)
        bucket = m.get("bucket")
        if not bucket:
            raise ValueError("table was not created with bucket_by=")
        if m.get("dvs"):
            raise ValueError(
                f"snapshot v{m['version']} carries live deletion "
                "vectors — the raw bucketed scan cannot apply them; "
                "run compact() to reconcile first"
            )
        if len(m["groups"]) != 1:
            raise ValueError(
                f"snapshot v{m['version']} holds {len(m['groups'])} groups — "
                "bucketed reads need one consistent file set; run compact()"
            )
        gpath = m["groups"][0]["path"]
        name = self._group_table_name(gpath)
        if not self.spark.catalog.tableExists(name):
            self.spark.sql(
                f"CREATE TABLE {name} ({m['groups'][0]['schema']}) USING parquet "
                f"CLUSTERED BY ({bucket['col']}) INTO {bucket['n']} BUCKETS "
                f"LOCATION '{gpath}'"
            )
        return self.spark.table(name)

    def history(self) -> list[dict]:
        return [
            {
                "version": m["version"],
                "op": m["op"],
                "rows": sum(_live_rows(g) for g in m["groups"]),
                "groups": len(m["groups"]),
                "schema": m["schema"],
            }
            for m in (self._load(v) for v in self._versions())
        ]

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (default: latest; explicit version = time
        travel). Every group aligns to the SNAPSHOT's schema by name —
        groups written before a column existed surface it as NULL. An
        empty snapshot (e.g. after an overwrite with an empty frame)
        reads as zero rows with the schema intact.

        Join planning (VERDICT r11 "Next round" #4): this path is
        plain parquet scans, so Catalyst sees the files' EXACT bytes
        and a small dimension auto-broadcasts with no hint (pinned in
        tests/test_plans.py). ``spark.read.format("sif_table")`` can
        NOT carry statistics — Spark 4.1's PythonScan implements no
        SupportsReportStatistics (verified against the shipped class),
        so that path plans the scan as default-sized and relies on
        AQE's runtime re-plan for broadcasts. For SQL, register views
        through ``register_view`` (this read) rather than the
        DataSource to keep the stats."""
        m = self._load(version)
        target = T._parse_datatype_string(m["schema"])
        return self._read_groups(m, m["groups"], target, _columns_of(m))

    def register_view(self, name: str, version: int | None = None) -> None:
        """Register the snapshot as a temp view for plain SQL — the
        stats-carrying SQL surface: backed by ``read()``'s native
        parquet scans, so Catalyst knows the real size and a small
        dimension auto-broadcasts in SQL joins (the
        ``spark.read.format("sif_table")`` temp-view route loses that
        — upstream PythonScan has no statistics hook)."""
        self.read(version).createOrReplaceTempView(name)

    def last_txn_epoch(self, app_id: str) -> int:
        """The highest epoch committed for ``app_id`` (-1 if none).
        O(1): the latest manifest carries the rolled-up txns map."""
        return int(self._load().get("txns", {}).get(app_id, -1))

    def _dv_frame(
        self, m: dict, dvs: list[dict], columns: list[dict] | None
    ) -> DataFrame:
        """The union of deletion-vector sidecars as (__gid, key cols
        under their CURRENT names) — dv files record their written
        names + col_ids, so tombstones stay exact across a key
        rename. Small by contract (compact() reconciles), hence
        broadcast by the caller. Sidecars batch into ONE scan per
        distinct (written schema, col_ids) class, same shape as
        _read_groups (round 14: the read plan must stay O(classes) as
        daily erasure batches accumulate sidecars); legacy entries
        without a recorded schema fall back to one scan each."""
        keys = _key_cols(m)
        parts = []
        for ids, paths, ents in _scan_classes(dvs):
            df = _scan(self.spark, ents[0].get("schema"), paths)
            names = _dv_key_names(ids, columns, keys)
            parts.append(df.select(
                F.col("_gid").alias("__gid"),
                *[F.col(names[k]).alias(k) for k in keys],
            ))
        return functools.reduce(DataFrame.unionByName, parts)

    def _read_groups(
        self,
        m: dict,
        groups: list[dict],
        target: T.StructType,
        columns: list[dict] | None = None,
        keep_gid: bool = False,
    ) -> DataFrame:
        """Aligned union of ``groups``, with the snapshot's deletion
        vectors applied as ONE broadcast anti-join on (group id, key
        tuple) — group files are never rewritten by a dv delete, so
        the read side is where tombstones take effect (merge-on-read).
        Tables without live dvs keep the exact pre-dv plan (no _gid
        projection, no join). ``keep_gid=True`` keeps each row's
        owning group id (__gid, derived from the file path) — the read
        shape every dv-writing op needs (already-deleted rows must
        never re-count or re-tombstone).

        Groups batch into ONE multi-path scan per distinct (on-disk
        schema, col_ids) class — the _batched_tagged_read shape
        (round 14, VERDICT r13 "What's wrong" #1): a steadily
        ingesting table holds thousands of same-schema groups, and a
        per-group scan loop made the snapshot plan O(groups) union
        branches, a driver-side analysis bottleneck before a byte is
        read. The id-aware alignment is per CLASS (every group in a
        class shares written names + ids), so renamed/dropped columns
        surface exactly as before."""
        if not groups:
            from sif_spark.sources.memory import local_frame

            return local_frame(self.spark, target)
        gids = {g["id"] for g in groups}
        dvs = [
            d for d in m.get("dvs") or [] if gids & set(d["gids"])
        ]
        gid_col = (
            [
                F.regexp_extract(
                    F.col("_metadata.file_path"), _GID_PAT, 1
                ).alias("__gid")
            ]
            if dvs or keep_gid
            else []
        )
        parts = []
        for ids, paths, ents in _scan_classes(groups):
            df = _scan(self.spark, ents[0].get("schema"), paths)
            parts.append(
                df.select(
                    *_align_ids_select(
                        df.columns, ids, target, columns
                    ),
                    *gid_col,
                )
            )
        out = functools.reduce(DataFrame.unionByName, parts)
        if dvs:
            keys = _key_cols(m)
            dvf = self._dv_frame(m, dvs, columns)
            if sum(int(d["rows"]) for d in dvs) <= _DV_BROADCAST_MAX_ROWS:
                dvf = F.broadcast(dvf)
            # else: an uncompacted table grew its tombstone set past
            # the broadcast budget — fall back to Spark's own join
            # planning (shuffled hash anti-join) instead of forcing a
            # too-big broadcast
            out = out.join(dvf, on=["__gid"] + keys, how="left_anti")
            if not keep_gid:
                out = out.drop("__gid")
        return out

    def read_between(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Snapshot read of rows with ``col`` in [lo, hi] (either bound
        optional), SKIPPING whole groups whose manifest min/max proves
        they cannot match — Delta-style data skipping, one manifest
        read, zero file I/O for pruned groups. The surviving groups
        still carry the row-level filter (pruning is an optimization,
        never the correctness input). Bounds must be the column's own
        type (numbers, strings, date/datetime)."""
        m = self._load(version)
        target = T._parse_datatype_string(m["schema"])
        if col not in [f.name for f in target.fields]:
            raise ValueError(f"no column {col!r} in snapshot schema")
        if lo is None and hi is None:
            # no bounds = full snapshot. Pruning would still drop
            # all-null groups (whose rows pass the lit(True) filter) —
            # silent row loss in the degenerate call (ADVICE r10)
            return self._read_groups(m, m["groups"], target, _columns_of(m))
        keep = prune_groups(m, {col: (
            _stat_bound(lo) if lo is not None else None,
            _stat_bound(hi) if hi is not None else None,
        )})
        out = self._read_groups(m, keep, target, _columns_of(m))
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return out.filter(cond)

    def lookup(self, value, version: int | None = None) -> DataFrame:
        """Point lookup by the table's key: a scalar for 1-ary
        ``key_col`` tables, a tuple/list in key order for composite
        ``key_cols`` tables. Prunes groups by every key column's range
        AND (when present) the per-group key-tuple Bloom filter — on a
        compacted 100 TB table a miss costs one manifest read and zero
        data I/O; a hit reads only the group(s) that may hold the key.
        The survivors still carry the row filter (bloom false
        positives read-and-filter, never corrupt)."""
        m = self._load(version)
        keys = _key_cols(m)
        if not keys:
            raise ValueError(
                "lookup needs a table created with key_col=/key_cols="
            )
        values = (
            list(value) if isinstance(value, (tuple, list)) else [value]
        )
        if len(values) != len(keys):
            raise ValueError(
                f"lookup expects {len(keys)} key value(s) for {keys}, "
                f"got {len(values)}"
            )
        if any(v is None for v in values):
            raise ValueError("lookup(None) is not a range-key lookup")
        target = T._parse_datatype_string(m["schema"])
        bounds = {}
        for k, v in zip(keys, values):
            try:
                bounds[k] = (_stat_bound(v),) * 2
            except TypeError:
                pass  # no stat form (a decimal key): no range skip
        # probe only the bloom ktypes of the groups the ranges keep: one
        # job per such ktype, none when no kept group has a bloom
        ranged = {**m, "groups": prune_groups(m, bounds)}
        probes = self._bloom_probe_sets(
            ranged,
            self.spark.range(1).select(
                *[F.lit(v).alias(k) for k, v in zip(keys, values)]
            ),
            keys,
        )
        out = self._read_groups(
            m, prune_groups(ranged, bounds, probes), target, _columns_of(m)
        )
        cond = F.lit(True)
        for k, v in zip(keys, values):
            cond = cond & (F.col(k) == F.lit(v).cast(target[k].dataType))
        return out.filter(cond)

    # every group/cdc dir is named [gc]-<version>-<seq>-<hex8>, so the
    # commit version of any data file is derivable from its OWN path —
    # the batched change-feed read tags rows without one plan node per
    # group (VERDICT r10 "What's wrong" #2: plan growth O(schema
    # classes), not O(groups))
    _VER_PAT = r".*/[gc]-(\d{10})-\d{3}-[0-9a-f]{8}/[^/]*$"

    def _batched_tagged_read(
        self,
        entries: list[FeedEntry],
        target: T.StructType,
        columns: list[dict] | None,
        tag: str | None,
        with_change_type: bool,
    ) -> DataFrame | None:
        """Read many group dirs with ONE scan per distinct (on-disk
        schema, id-mapping) class (_scan_classes), aligning to
        ``target`` and deriving _commit_version from each file's path.
        ``entries`` are feed_window's dirs; ``columns`` is the TARGET
        snapshot's id list, so files written before a rename align by
        id under the new name. ``tag`` is a constant _change_type
        ('insert') or None to read the dir's own _change_type column
        (cdc dirs); ``with_change_type`` controls whether the column
        appears at all (non-cdf feeds omit it)."""
        if not entries:
            return None
        ver = (
            F.regexp_extract(F.col("_metadata.file_path"), self._VER_PAT, 1)
            .cast("int")
            .alias("_commit_version")
        )
        parts = []
        for ids, paths, ents in _scan_classes([
            {"path": e.path, "schema": e.ddl, "col_ids": e.col_ids}
            for e in entries
        ]):
            df = _scan(self.spark, ents[0]["schema"], paths)
            cols = _align_ids_select(df.columns, ids, target, columns)
            if with_change_type:
                if tag is not None:
                    cols.append(F.lit(tag).alias("_change_type"))
                else:
                    # _change_type is metadata, never renamed
                    cols.append(
                        F.col("_change_type")
                        .cast("string")
                        .alias("_change_type")
                    )
            cols.append(ver)
            parts.append(df.select(*cols))
        return functools.reduce(DataFrame.unionByName, parts)

    def _empty_changes(self, target: T.StructType, cdf: bool) -> DataFrame:
        from sif_spark.sources.memory import local_frame

        extra = (
            [T.StructField("_change_type", T.StringType(), False)] if cdf else []
        )
        return local_frame(
            self.spark,
            T.StructType(
                target.fields
                + extra
                + [T.StructField("_commit_version", T.IntegerType(), False)]
            ),
        )

    def changes(
        self,
        after_version: int,
        to_version: int | None = None,
        cdf: bool = False,
    ) -> DataFrame:
        """The change feed over versions in (after_version, to_version].

        ``cdf=False`` (append-feed): rows ADDED by each version —
        create/append contribute their new group, upsert contributes
        its UPDATE batch (replaced rows appear as their new values; the
        rewritten survivors are carried copies, not changes), delete
        and compact contribute nothing. Each row carries its
        _commit_version. Downstream folds that assume append-only must
        GUARD on the manifests' exact replaced_rows/deleted_rows
        counters (mview does) — this mode cannot represent a removal.

        ``cdf=True`` (full CDC, the Delta CDF shape): every row change
        is emitted with a ``_change_type`` in {insert,
        update_preimage, update_postimage, delete}. Requires the table
        to be created with ``cdf=True`` for any version that actually
        replaced or deleted rows (those versions materialized their
        change file at write time under <table>/cdc/); versions that
        provably added only (create/append/pure-insert upserts) need
        no change file and are tagged 'insert' from their data groups.
        A restore in the window raises ChangeFeedIncompleteError — its
        logical diff is not materialized.

        Which dirs make up each version, under which column ids, and
        which versions are refused is ``feed_window`` — the same
        planner the `sif_table` stream runs per micro-batch, so the
        batch and streamed feeds cannot disagree. A window reaching
        into a vacuumed prefix or a reclaimed change file raises
        ChangeFeedIncompleteError naming the missing range.

        Plan shape: one parquet scan per DISTINCT group schema in the
        window (not per group) — _commit_version derives from each
        file's path, so a thousand-commit history plans O(1) nodes
        (pinned in tests/test_table.py)."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {self.path}")
        hi = to_version if to_version is not None else versions[-1]
        load = functools.cache(self._load)
        entries = feed_window(
            versions, load, after_version, hi, cdf=cdf,
            exists=self.log.exists,
        )
        return self._read_feed(entries, load(hi), cdf)

    def _read_feed(
        self, entries: list[FeedEntry], head: dict, cdf: bool
    ) -> DataFrame:
        """The rows of feed_window ``entries``, aligned to snapshot
        ``head`` (columns by id, then by name) and tagged with
        _commit_version (and _change_type with ``cdf``): the JVM read
        behind changes() and the driver-side change-feed folds."""
        target = T._parse_datatype_string(head["schema"])
        parts = [
            p
            for p in (
                self._batched_tagged_read(
                    [e for e in entries if e.tag == tag],
                    target, _columns_of(head), tag, cdf,
                )
                for tag in ("insert", None)
            )
            if p is not None
        ]
        if not parts:
            return self._empty_changes(target, cdf)
        return functools.reduce(DataFrame.unionByName, parts)

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None, retries: int = 3
    ) -> int:
        """Append a new data group. ``txn=(app_id, epoch)`` makes the
        append IDEMPOTENT: each manifest carries a rolled-up
        {app_id: last_epoch} map, and an append whose epoch is <= the
        recorded one is a no-op returning the current version — the
        exactly-once contract a Structured Streaming foreachBatch sink
        needs under crash-replay (Spark replays the last micro-batch
        after a failure with the SAME epoch id; the replay must not
        double rows). Same idea as Delta's txnAppId/txnVersion. A
        concurrent-commit loss re-reads the snapshot: if the epoch
        landed (the racing writer was our own replay), it skips;
        otherwise the written group is re-committed on the new head
        without re-running the write, unless the schema, column ids or
        table spec moved (then the whole append retries)."""
        return _retrying(
            lambda: self._op_once(
                "append", functools.partial(self._plan_group, "append", df), txn
            ),
            retries,
        )

    def _plan_group(self, op: str, df: DataFrame, m: dict) -> _Plan:
        """append and overwrite: ``df`` as one group over the head's
        groups (append) or alone (overwrite). A lost race rebases the
        written group onto the new head when its metadata match the
        snapshot read (_require_meta)."""
        append = op == "append"
        schema = _merge_schema(
            T._parse_datatype_string(m["schema"]), df.schema
        ) if append else df.schema

        def rebase(m: dict, h: dict, kept: list[dict]) -> list[dict]:
            self._require_meta(m, h)
            return h["groups"] if append else kept

        return _Plan(
            m["groups"] + ["ig"] if append else ["ig"], schema,
            _next_columns(m, schema), {"ig": df}, rebase=rebase,
        )

    # -- keyed mutations: upsert / merge / delete_keys ------------------------

    def upsert(
        self,
        updates: DataFrame,
        retries: int = 3,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE by the table's key_col: rows whose key exists are
        replaced, new keys append. Copy-on-write at GROUP granularity
        with two-tier file skipping: groups whose recorded
        [key_min, key_max] is disjoint from the updates' range carry
        over BY REFERENCE, and range-overlapping groups ALSO skip when
        none of the update keys survives the group's key Bloom filter
        (a bloom miss proves the group holds no matched key; a false
        positive just rewrites — never wrong, only slower). The
        nightly cost is O(batch + touched groups), never O(table).
        Retries optimistic-commit losses against the fresh snapshot.
        ``txn=(app_id, epoch)`` gives the same crash-replay
        idempotence as append(txn=) — the contract incremental
        materialized-view maintenance needs."""
        return _retrying(
            lambda: self._op_once("upsert", functools.partial(
                self._plan_keyed, "upsert", updates, self._plan_keyset
            ), txn),
            retries,
        )

    def merge(
        self,
        source: DataFrame,
        when_matched_update: dict[str, str] | None = None,
        when_matched_update_condition: str | None = None,
        when_matched_delete: bool | str = False,
        when_not_matched_insert: bool | dict[str, str] = False,
        when_not_matched_insert_condition: str | None = None,
        retries: int = 3,
        txn: tuple[str, int] | None = None,
        evolve_schema: bool = True,
    ) -> int:
        """Conditional MERGE on the table's key_col (VERDICT r11 "Next
        round" #2 — the Debezium-style CDC-apply shape ``upsert``'s
        whole-row replacement cannot express): update a COLUMN SUBSET
        of matched rows, conditionally delete matched rows, and insert
        unmatched source rows, in one snapshot commit.

        Clause semantics (Delta/ANSI MERGE, fixed clause order):

        - ``when_matched_delete``: ``True`` or a SQL condition over
          ``s.*``/``t.*`` — matched pairs where it holds are DELETED.
          Evaluated FIRST (a pair that deletes never updates).
        - ``when_matched_update``: ``{target_col: sql_expr}`` — for
          matched pairs surviving the delete clause (and satisfying
          ``when_matched_update_condition`` if given), the listed
          columns are recomputed from the expression (``s.``/``t.``
          qualified refs); unlisted columns KEEP their target values.
          The merge key itself cannot be updated.
        - ``when_not_matched_insert``: ``True`` (insert the source row
          aligned to the table schema) or ``{target_col: sql_expr}``
          over ``s.*``; gated by ``when_not_matched_insert_condition``.
        - A matched pair where no clause fires carries over unchanged;
          an unmatched source row with no insert clause is dropped.

        The source must have AT Most one row per key (ANSI MERGE's
        cardinality rule — two source rows matching one target row
        would make the result order-dependent; raises). Uses upsert's
        two-tier (range + bloom) group skipping, so the cost is
        O(source + touched groups), never O(table). Records EXACT
        ``replaced_rows`` (updated) and ``deleted_rows`` counters; on
        a ``cdf=True`` table materializes the full change file
        (update_preimage/update_postimage/delete/insert). ``txn=``
        gives append()'s crash-replay idempotence.

        Clause conditions and expressions see the RAW source — columns
        that exist only on the source side (CDC metadata like an op
        code) are usable in every ``s.``-qualified expression and are
        never written to the table. ``evolve_schema=False`` pins the
        table schema: source-only columns don't evolve it (the
        Debezium-loop contract — a `_op` column must not become a
        table column); the default True keeps append()'s
        add-and-widen rules.

        On a ``cdf=True`` table a clause that can evaluate differently
        twice over the same rows (``rand()``, ``uuid()``,
        ``current_timestamp()``) raises ValueError before any write:
        the change file re-evaluates the join in its own job, so it
        could disagree with the committed rows. Writing every output
        of the merge from one evaluation (ROADMAP direction 4, one-pass
        writes) lifts this."""
        if not (
            when_matched_update or when_matched_delete
            or when_not_matched_insert
        ):
            raise ValueError("merge with no clauses is a no-op — pass at "
                             "least one when_* clause")
        return _retrying(
            lambda: self._merge_once(
                source, when_matched_update,
                when_matched_update_condition, when_matched_delete,
                when_not_matched_insert,
                when_not_matched_insert_condition, txn, evolve_schema,
            ),
            retries,
        )

    def _merge_once(
        self,
        source: DataFrame,
        upd: dict[str, str] | None,
        upd_cond: str | None,
        dele: bool | str,
        ins: bool | dict[str, str],
        ins_cond: str | None,
        txn: tuple[str, int] | None,
        evolve: bool = True,
    ) -> int:
        """One attempt of merge() — the callable its retry loop re-runs."""
        clauses = (upd, upd_cond, dele, ins, ins_cond)
        return self._op_once("merge", functools.partial(
            self._plan_keyed, "merge", source,
            functools.partial(self._plan_merge, clauses), evolve=evolve,
            check=functools.partial(self._check_merge_clauses, clauses),
        ), txn)

    def delete_keys(
        self,
        keys: DataFrame,
        retries: int = 3,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Bulk delete by the table's key_col — the ``DELETE WHERE key
        IN (<millions>)`` shape a predicate string cannot express.
        Exactly the upsert's two-tier file skipping (range-disjoint
        groups carry by reference; range-overlapping groups also skip
        on a bloom miss), with the matched rows anti-joined out and no
        update group appended. Records the EXACT deleted count; on a
        cdf=True table the deleted rows are materialized as 'delete'
        tombstones in the version's change file. ``txn=`` gives the
        crash-replay idempotence the cdf-mode ANN index maintainer
        needs (a replayed micro-batch of deletions must not commit
        twice)."""
        return _retrying(
            lambda: self._op_once("delete", functools.partial(
                self._plan_keyed, "delete", keys, self._plan_delete_keys,
                evolve=False,
            ), txn),
            retries,
        )

    def _plan_keyed(
        self,
        op: str,
        batch: DataFrame,
        planner: Callable,
        m: dict,
        evolve: bool = True,
        check: Callable | None = None,
    ) -> _Plan:
        """The plan of a keyed mutation — upsert, merge and delete_keys
        all plan here: key validation → the op's clause ``check`` →
        source materialization → the bounds ∥ bloom-probe wave →
        prune_groups (the touched groups) → the op's ``planner``. A lost
        race rebases through _rebased.

        ``planner(m, batch, keys, merged, cols_next, keep, touched)``
        returns (the groups carried into the next snapshot, the write
        frames by slot — "wg" the rewrite of the touched groups, "ig"
        the op's added group, "cdc" the change file, "dv" a
        deletion-vector sidecar — and the counters the settled writes
        give)."""
        keys = _key_cols(m)
        name = "delete_keys" if op == "delete" else op
        if not keys:
            raise ValueError(
                f"{name} needs a table created with key_col=/key_cols="
            )
        missing = [k for k in keys if k not in batch.columns]
        if missing:
            raise ValueError(f"{name} batch lacks key column(s) {missing}")
        target = T._parse_datatype_string(m["schema"])
        merged = _merge_schema(target, batch.schema) if evolve else target
        if check is not None:
            check(m, batch, keys, merged)
        if op == "delete":
            # delete_keys works on the distinct key tuples. The dedup's
            # Aggregate node would always trip _materialize_source, so
            # the wide/narrow decision looks at the PRE-distinct input
            # (ADVICE r14 low): a key list that is already an in-memory
            # leaf (the streaming folds' checkpointed batches, a
            # driver-local list) re-runs its tiny distinct per action
            # instead of paying an unconditional checkpoint job.
            sel = batch.select(*keys)
            batch = (
                sel.distinct()
                if _materialized_leaf_plan(sel)
                else _materialize_source(sel.distinct())
            )
        else:
            batch = _materialize_source(batch)
        cols_next = _next_columns(m, merged)
        # bounds (+ merge's cardinality check) ∥ bloom probes: independent
        # jobs over the materialized source — one overlapped wave
        # (guide §2.6; round 15). A failed check raises before any write.
        bounds, probes = _parallel_jobs(
            lambda: self._key_bounds(batch, keys, cardinality=op == "merge"),
            lambda: self._bloom_probe_sets(m, batch, keys),
        )
        # the groups that may hold a batch key rewrite; the rest carry
        touched = prune_groups(m, bounds, probes)
        hit = {g["id"] for g in touched}
        keep = [g for g in m["groups"] if g["id"] not in hit]
        carried, frames, counts = planner(
            m, batch, keys, merged, cols_next, keep, touched
        )
        # a zero-row group stays an unreferenced orphan — except
        # upsert's, which keeps its layout (survivors, then batch)
        return _Plan(
            carried + ["wg", "ig"], merged, cols_next, frames, counts,
            rebase=functools.partial(self._rebased, bounds=bounds, probes=probes),
            drop_empty=op != "upsert",
        )

    def _plan_keyset(
        self, m, batch, keys, merged, cols_next, keep, touched, upsert=True
    ) -> tuple:
        """upsert, and delete_keys on a copy-on-write table: the touched
        groups rewrite as their anti-join survivors against the batch's
        key set ("wg"), and the counter is the rows that left them.
        Upsert also writes the WHOLE batch as its own group ("ig"), so
        every batch row lands — a key duplicated inside the batch lands
        twice (upsert runs no cardinality check). On a cdf table the
        change file holds the removed rows' pre-images — delete_keys:
        'delete'; upsert: 'update_preimage', plus the batch rows as
        'update_postimage' or 'insert' by whether their key matched."""
        frames = {}
        keyset = batch.select(*keys).distinct() if upsert else batch
        if touched:
            # dv-aware: tombstoned rows must not resurrect into the
            # survivor rewrite
            old = self._read_groups(
                m, touched, T._parse_datatype_string(m["schema"]),
                _columns_of(m),
            )
            frames["wg"] = _align(
                old.join(keyset, on=keys, how="left_anti"), merged
            )
        if upsert:
            frames["ig"] = _align(batch, merged)
        if touched and m.get("cdf", False):
            pre = _align(old.join(keyset, on=keys, how="left_semi"), merged)
            cdc = _tagged(pre, "update_preimage" if upsert else "delete")
            if upsert:
                matched = pre.select(*keys).distinct()
                new = frames["ig"]
                cdc = cdc.unionByName(
                    _tagged(
                        new.join(matched, on=keys, how="left_semi"),
                        "update_postimage",
                    )
                ).unionByName(
                    _tagged(new.join(matched, on=keys, how="left_anti"),
                            "insert")
                )
            frames["cdc"] = cdc
        live = sum(_live_rows(g) for g in touched)
        counter = "replaced_rows" if upsert else "deleted_rows"
        return keep, frames, lambda res: (
            {counter: live - int(res["wg"]["rows"])} if "wg" in res else {}
        )

    def _plan_delete_keys(
        self, m, keys_df, keys, merged, cols_next, keep, touched
    ) -> tuple:
        if m.get("dv", False) and touched:
            # merge-on-read: a key-tombstone sidecar instead of rewriting
            # the touched groups (VERDICT r12 "Next round" #2) — a
            # scattered delete across a 100 TB table touches nearly
            # every group; rewriting them all per batch is the
            # scale-killer this mode removes
            return self._plan_dv(
                m, keys, merged, cols_next, touched,
                lambda u: u.join(keys_df, on=keys, how="left_semi"),
            )
        return self._plan_keyset(
            m, keys_df, keys, merged, cols_next, keep, touched, upsert=False
        )

    def _plan_merge(
        self, clauses, m, source, keys, merged, cols_next, keep, touched
    ) -> tuple:
        """merge's clauses over the touched groups: ONE LEFT join of
        their rows to the RAW source with a per-row CASE (round 15,
        guide §2.4/§2.6) rewrites them ("wg") — matched rows deleted or
        updated, the rest carried — and the EXACT counters ride that
        write as observed metrics. The old shape derived survivors ∪
        untouched ∪ updated as three branches over the touched groups
        plus a separate tagged-count job. The ANSI cardinality check
        proves ≤1 source row per target key, so the left join cannot
        duplicate target rows, and the source's key tuples are fully
        non-null (same check), so "s-side key not null" ⟺ matched.
        Clause conditions and update/insert expressions may reference
        source-only columns (CDC op codes); only the SELECT lists
        align to the table schema. The NOT MATCHED rows write as their
        own group ("ig"). An insert-only merge rewrites nothing (the
        touched groups carry BY REFERENCE), and a delete-only merge on
        a dv table tombstones instead (_plan_dv)."""
        upd, upd_cond, dele, ins, ins_cond = clauses
        on = _key_match(keys)
        if m.get("dv", False) and touched and dele and not upd:
            # delete-only merge on a dv table (the CDC-erasure shape):
            # same zero-rewrite contract as delete_keys; an update
            # clause still forces the rewrite (updated rows must change
            # bytes). A key matched only by a deleted row is still
            # MATCHED — it does not insert.
            del_c = F.coalesce(_clause(dele), F.lit(False))
            return self._plan_dv(
                m, keys, merged, cols_next, touched,
                lambda u: u.alias("t").join(source.alias("s"), on, "inner")
                .filter(del_c)
                .select(*_target_side(merged), F.col("t.__gid").alias("__gid")),
                (
                    lambda u: _merge_inserts(
                        source, u, keys, merged, ins, ins_cond
                    )
                ) if ins else None,
            )
        carried, frames, old, obs, cdc = list(keep), {}, None, None, None
        if touched and (upd or dele):
            from pyspark.sql import Observation

            old = self._read_groups(m, touched, merged, cols_next)
            j = old.alias("t").join(source.alias("s"), on, "left")
            matched = F.col(f"s.`{keys[0]}`").isNotNull()
            del_c = matched & F.coalesce(_clause(dele), F.lit(False))
            # bool(upd), not `upd is not None`: an EMPTY update mapping
            # is inert (it updates no columns), but `is not None` made
            # it an active clause that counted every matched
            # non-deleted row in replaced_rows and wrote identical
            # pre/postimage pairs into the change file (ADVICE r12 low)
            upd_c = matched & F.lit(bool(upd)) & ~del_c
            if upd_cond is not None:
                upd_c = upd_c & F.coalesce(F.expr(upd_cond), F.lit(False))

            def row(updated_value):
                """The target row, each updated column from
                ``updated_value(new value, old value)``."""
                return [
                    (
                        updated_value(
                            F.expr(upd[f.name]).cast(f.dataType),
                            F.col(f"t.`{f.name}`"),
                        )
                        if upd and f.name in upd
                        else F.col(f"t.`{f.name}`")
                    ).alias(f.name)
                    for f in merged.fields
                ]

            obs = Observation()
            frames["wg"] = _align(
                j.observe(
                    obs,
                    F.sum(upd_c.cast("long")).alias("nu"),
                    F.sum(del_c.cast("long")).alias("nd"),
                )
                .filter(~del_c)
                .select(*row(lambda new, was: F.when(upd_c, new).otherwise(was))),
                merged,
            )
            if m.get("cdf", False):
                # the change-file branches re-derive from the
                # un-observed join: the cdc write is an independent
                # parallel job, so it overlaps the rewritten-group
                # write instead of serializing behind a shared
                # materialization
                updated = j.filter(upd_c).select(*row(lambda new, was: new))
                cdc = (
                    _tagged(j.filter(del_c).select(*_target_side(merged)),
                            "delete")
                    .unionByName(_tagged(
                        old.join(updated.select(*keys), on=keys,
                                 how="left_semi"),
                        "update_preimage",
                    ))
                    .unionByName(_tagged(updated, "update_postimage"))
                )
        elif touched:
            # insert-only merge: matched rows are untouched — carry the
            # touched groups BY REFERENCE, no rewrite at all
            carried = list(m["groups"])
            old = self._read_groups(m, touched, merged, cols_next)
        if ins:
            # keep-groups PROVABLY hold no source key, so "unmatched"
            # only needs the anti-join against the touched groups
            frames["ig"] = _merge_inserts(
                source, old, keys, merged, ins, ins_cond
            )
        if cdc is not None:
            # a version's change file REPLACES its added groups in the
            # feed, so the inserts ride along
            frames["cdc"] = (
                cdc.unionByName(_tagged(frames["ig"], "insert"))
                if ins else cdc
            )
        return carried, frames, lambda res: (
            {"replaced_rows": obs.get["nu"] or 0, "deleted_rows": obs.get["nd"] or 0}
            if obs is not None
            else {}
        )

    def _plan_dv(
        self, m, keys, merged, cols_next, touched, doomed_of, inserts_of=None
    ) -> tuple:
        """Merge-on-read delete on a ``dv=True`` table (delete_keys and
        the delete-only merge): ZERO group rewrites. ``doomed_of`` picks
        the doomed rows from the touched groups' LIVE rows (each tagged
        with its __gid; rows already tombstoned never re-count); they
        become ONE (group id, key tuple) sidecar under <table>/dv/
        ("dv") plus, on a cdf table, their full pre-images as the change
        file — all written BEFORE the manifest commit, so a SIGKILL
        between the writes leaves invisible orphans, never a torn feed.
        ``inserts_of`` (merge's NOT MATCHED rows, against the same live
        rows) adds a plain group. The groups carry BY REFERENCE in their
        original order, only the touched entries' dv_rows metadata
        advancing (the q189 pin: zero group paths change). Every read
        path applies live sidecars as a broadcast anti-join; compact()
        reconciles and clears them."""
        u = self._read_groups(m, touched, merged, cols_next, keep_gid=True)
        # lazily checkpointed: feeds the per-group counts, the sidecar
        # write AND the cdc write without re-running the joins. The
        # counts run first (one aggregate job: it materializes the
        # checkpoint and settles every gate exactly)
        doomed = doomed_of(u).localCheckpoint(eager=False)
        per_gid, n = self._dv_per_gid(doomed)
        frames = {
            "dv": doomed.select(F.col("__gid").alias("_gid"), *keys)
        } if n else {}
        if inserts_of is not None:
            frames["ig"] = inserts_of(u)
        if m.get("cdf", False) and n:
            cdc = _tagged(doomed.drop("__gid"), "delete")
            frames["cdc"] = (
                cdc.unionByName(_tagged(frames["ig"], "insert"))
                if "ig" in frames else cdc
            )
        return (
            self._dv_bumped_groups(m, per_gid), frames,
            lambda res: {"deleted_rows": n},
        )

    def _check_merge_clauses(self, clauses, m, source, keys, merged) -> None:
        """merge's clause validation, driver-side (no job): the key is
        never updated, an insert mapping sets every key column, and on
        a cdf table no clause may be non-deterministic — the change
        file re-evaluates the join in its own job, so such a clause
        could commit a change file that disagrees with the committed
        rows."""
        upd, upd_cond, dele, ins, ins_cond = clauses
        clash = [k for k in keys if k in (upd or {})]
        if clash:
            raise ValueError(
                f"when_matched_update cannot update the merge key(s) {clash}"
            )
        if isinstance(ins, dict):
            unset = [k for k in keys if k not in ins]
            if unset:
                raise ValueError(
                    "when_not_matched_insert mapping must set the merge "
                    f"key(s) {unset}"
                )
        if not m.get("cdf", False):
            return
        from sif_spark.sources.memory import local_frame

        joined = local_frame(self.spark, merged).alias("t").join(
            source.alias("s"), _key_match(keys), "left"
        )
        for frame, exprs in (
            (joined, [*(upd or {}).values(), upd_cond, dele]),
            (
                source.alias("s"),
                [*(ins.values() if isinstance(ins, dict) else ()), ins_cond],
            ),
        ):
            exprs = [e for e in exprs if isinstance(e, str)]
            if not exprs:
                continue
            resolved = frame.select(*[F.expr(e) for e in exprs])._jdf
            proj = resolved.queryExecution().analyzed().projectList()
            bad = [e for i, e in enumerate(exprs) if _volatile(proj.apply(i))]
            if bad:
                raise ValueError(
                    f"merge clause(s) {bad} are non-deterministic — on a "
                    "cdf=True table the change file re-evaluates them in "
                    "its own job and could disagree with the committed "
                    "rows"
                )

    @staticmethod
    def _meta_matches(a: dict, b: dict) -> bool:
        """The snapshot metadata a written group depends on: schema,
        column ids, the column-id watermark (ids the op minted must
        still be free on the new head) and the table spec (_SPEC).
        dv/dvs normalize absent-vs-empty (ADVICE r13 low): a
        pre-round-13 head has no `dvs` key at all, which must compare
        equal to a newer commit's normalized `[]` — otherwise every
        rebase against such a head degrades to a full retry."""
        return (
            all(
                a.get(f) == b.get(f)
                for f in ("schema", "columns", "last_column_id", *_SPEC)
                if f != "dv"
            )
            and bool(a.get("dv")) == bool(b.get("dv"))
            and (a.get("dvs") or []) == (b.get("dvs") or [])
        )

    @classmethod
    def _require_meta(cls, m: dict, h: dict) -> None:
        """Refuse a rebase from ``m`` onto ``h`` (ConcurrentCommitError,
        the caller's full retry) unless their metadata match."""
        if not cls._meta_matches(m, h):
            raise ConcurrentCommitError(
                "concurrent schema/key/dv metadata change — full "
                "retry required"
            )

    def _rebased(
        self,
        m: dict,
        h: dict,
        carried: list[dict],
        bounds: dict,
        probes: tuple[dict, str],
    ) -> list[dict]:
        """A keyed op's ``carried`` groups (planned on ``m``) re-applied
        to the head ``h`` that won the race (VERDICT r12 "Next round"
        #6): h's groups minus the ones the op removed, with the ones
        it mutated swapped in, so the op re-commits WITHOUT re-running
        any job. Raises ConcurrentCommitError (the caller's full
        retry) unless the rebase is provably safe:

        - every plan-relevant metadatum (schema, column ids, key
          spec, bucket, cdf/dv flags AND the dv sidecar list — an
          interloper's tombstones change what this op's reads saw)
          is unchanged between ``m`` and ``h``;
        - every group this op rewrote or dv-annotated still sits in
          ``h`` ENTRY-IDENTICAL to what it read;
        - every group ``h`` added since ``m`` is provably key-
          disjoint from this op's batch, decided JOB-FREE by the
          cached range bounds + bloom probe sets (an unknown bloom
          ktype, a capped probe set, or a range overlap all count as
          conflict — conservative)."""
        self._require_meta(m, h)
        m_by_id = {g["id"]: g for g in m["groups"]}
        mine = {g["id"]: g for g in carried}
        touched = {i for i, g in m_by_id.items() if mine.get(i) != g}
        h_by_id = {g["id"]: g for g in h["groups"]}
        if any(h_by_id.get(i) != m_by_id[i] for i in touched):
            raise ConcurrentCommitError(
                "concurrent writer touched this op's read set — "
                "full retry required"
            )
        delta = [g for g in h["groups"] if g["id"] not in m_by_id]
        if delta and prune_groups({**h, "groups": delta}, bounds, probes):
            raise ConcurrentCommitError(
                "concurrently added groups may hold this op's keys — "
                "full retry required"
            )
        return [
            mine[g["id"]] if g["id"] in touched else g
            for g in h["groups"]
            if g["id"] in mine or g["id"] not in m_by_id
        ]

    def _key_bounds(
        self, df: DataFrame, keys: list[str], cardinality: bool = False
    ) -> dict:
        """Per-key-column (min, max) of the batch's non-null values as
        prune_groups bounds (None: the column has no non-null value; a
        column whose values cannot be stat-compared is left out) — ONE
        aggregate job regardless of key arity. ``cardinality=True``
        (merge) enforces ANSI MERGE's cardinality rule in the same job:
        the distinct count is over fully-non-null key TUPLES (a null
        part never equi-matches, so such rows can only be dead weight),
        and any shortfall vs the row count — duplicate tuples OR null
        parts — raises."""
        aggs = []
        for i, k in enumerate(keys):
            aggs += [F.min(k).alias(f"lo{i}"), F.max(k).alias(f"hi{i}")]
        if cardinality:
            nn = F.lit(True)
            for k in keys:
                nn = nn & F.col(k).isNotNull()
            aggs += [
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(
                    F.when(nn, F.struct(*[F.col(k) for k in keys]))
                ).alias("nk"),
            ]
        row = df.agg(*aggs).collect()[0]
        if cardinality and int(row["n"]) != int(row["nk"]):
            raise ValueError(
                f"merge source has {row['n']} rows but {row['nk']} "
                f"distinct non-null {keys} key tuples — ANSI MERGE "
                "forbids multiple source rows matching one target row "
                "(and a null key part never matches anything)"
            )
        out = {}
        for i, k in enumerate(keys):
            lo, hi = row[f"lo{i}"], row[f"hi{i}"]
            if lo is None:
                out[k] = None
                continue
            try:
                out[k] = (_stat_bound(lo), _stat_bound(hi))
            except TypeError:
                pass  # not stat-comparable: the column prunes nothing
        return out

    def _bloom_probe_sets(
        self, m: dict, keyed_df: DataFrame, keys: list[str]
    ) -> tuple[dict, str]:
        """{bloom ktype: probe hash pairs (or None when capped/
        unusable)} for every distinct ktype among the groups' blooms,
        plus the snapshot's own ktype string. Hashed ONCE PER DISTINCT
        KTYPE: each group's bloom was built over its on-disk key
        dtype(s), so the probe must try_cast each key part to that
        exact type (xxhash64(int 5) != xxhash64(bigint 5)); a tuple
        with any part null — originally null (null never equi-matches)
        or nulled by a narrowing try_cast (the value provably cannot
        live in the narrow group) — simply drops from the probe set."""
        target = T._parse_datatype_string(m["schema"])
        snap_kt = _KTYPE_SEP.join(
            target[k].dataType.simpleString() for k in keys
        )
        out: dict[str, list | None] = {}
        for kt in {
            g["key_bloom"].get("ktype", snap_kt)
            for g in m["groups"]
            if g.get("key_bloom")
        }:
            kts = kt.split(_KTYPE_SEP)
            if len(kts) != len(keys):
                out[kt] = None  # written under another key arity: never skip
                continue
            casted = keyed_df.select(
                *[
                    F.col(k).try_cast(t).alias(f"__k{i}")
                    for i, (k, t) in enumerate(zip(keys, kts))
                ]
            )
            nn = F.lit(True)
            for i in range(len(keys)):
                nn = nn & F.col(f"__k{i}").isNotNull()
            pairs = (
                casted.filter(nn)
                .select(
                    *[
                        F.xxhash64(
                            *[F.col(f"__k{i}") for i in range(len(keys))],
                            F.lit(seed),
                        ).alias(f"h{j}")
                        for j, seed in enumerate(_BLOOM_SEEDS)
                    ]
                )
                .distinct()
                .limit(_BLOOM_UPDATE_KEY_CAP + 1)
                .collect()
            )
            out[kt] = (
                [tuple(p) for p in pairs]
                if len(pairs) <= _BLOOM_UPDATE_KEY_CAP
                else None
            )
        return out, snap_kt

    def _dv_per_gid(self, doomed: DataFrame) -> tuple[dict, int]:
        """Per-group tombstone counts of the doomed (__gid + row)
        frame, ONE aggregate job (it also materializes the caller's
        lazy checkpoint, so every later action re-uses the cache)."""
        per_gid = {
            r["__gid"]: int(r["n"])
            for r in doomed.groupBy("__gid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return per_gid, sum(per_gid.values())

    @staticmethod
    def _dv_bumped_groups(m: dict, per_gid: dict) -> list[dict]:
        """m's groups BY REFERENCE in original order, the touched
        entries' dv_rows metadata advanced — zero path changes."""
        groups = []
        for g in m["groups"]:
            n = per_gid.get(g["id"], 0)
            groups.append(
                {**g, "dv_rows": int(g.get("dv_rows", 0)) + n} if n else g
            )
        return groups

    def delete(self, predicate: str) -> int:
        """Delete rows matching the SQL predicate — groups with no
        matches carry over by reference; matched groups rewrite. The
        manifest records the EXACT deleted row count (old rows of
        touched groups minus their rewritten survivors), and on a
        ``cdf=True`` table the deleted rows themselves are materialized
        as 'delete' tombstones in the version's change file. Rewritten
        groups keep their places in the group list."""

        def plan(m: dict) -> _Plan:
            target = T._parse_datatype_string(m["schema"])
            cols = _columns_of(m)
            # ONE batched dv-aware probe over every group (guide
            # §1.2/§2.4 — the old shape ran two limit-1 probe jobs PER
            # GROUP, serially): per-gid counts of predicate-TRUE rows
            # (group must rewrite; SQL DELETE semantics — pred=NULL
            # rows STAY, so the survivor filter is NOT
            # coalesce(pred, false)) and of surviving rows (a rewrite
            # lands a group iff > 0)
            counts: dict[str, tuple[int, int]] = {}
            if m["groups"]:
                u = self._read_groups(m, m["groups"], target, cols, keep_gid=True)
                pred_t = F.coalesce(F.expr(f"({predicate})"), F.lit(False))
                counts = {
                    r["__gid"]: (int(r["n_match"]), int(r["n_keep"]))
                    for r in u.groupBy("__gid")
                    .agg(
                        F.sum(F.when(pred_t, 1).otherwise(0)).alias("n_match"),
                        F.sum(F.when(~pred_t, 1).otherwise(0)).alias("n_keep"),
                    )
                    .collect()
                }
            groups: list = []
            frames: dict = {}
            removed = 0
            for g in m["groups"]:
                n_match, n_keep = counts.get(g["id"], (0, 0))
                if n_match == 0:
                    groups.append(g)
                    continue
                removed += _live_rows(g)
                if n_keep > 0:  # else every live row matched: it drops
                    slot = f"wg{len(frames)}"
                    frames[slot] = self._read_groups(m, [g], target, cols).filter(
                        f"NOT coalesce(({predicate}), false)"
                    )
                    groups.append(slot)
            if m.get("cdf", False) and any(n for n, _ in counts.values()):
                frames["cdc"] = _tagged(u.filter(pred_t).drop("__gid"), "delete")
            return _Plan(
                groups, m["schema"], cols, frames,
                lambda res: {"deleted_rows": removed - sum(
                    int(res[s]["rows"]) for s in groups if isinstance(s, str)
                )},
            )

        return self._op_once("delete", plan)

    def overwrite(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        retries: int = 3,
    ) -> int:
        """Replace the snapshot's CONTENT in one atomic commit (the
        lakehouse `mode("overwrite")` — the same manifest shape the
        `sif_table` DataSource writer publishes): a new version
        referencing ONLY the new group. Readers pinned on older
        versions are untouched (time travel until vacuum); both
        change-feed modes REFUSE to cross an overwrite (its logical
        diff is not materialized) — the contract a derived artifact
        swap (e.g. the ANN index refresh) wants, since its consumers
        read snapshots, not the feed. ``txn=`` gives append()'s
        crash-replay idempotence; the txn high-water map carries
        forward. Schema may change freely — an overwrite owns the new
        snapshot's schema (column ids are re-minted for NEW names,
        preserved for surviving ones, so later renames stay safe). A
        lost commit race rebases like append()'s."""
        return _retrying(
            lambda: self._op_once(
                "overwrite", functools.partial(self._plan_group, "overwrite", df),
                txn,
            ),
            retries,
        )

    def compact(
        self,
        num_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite ALL live groups into one group (optionally
        repartitioned; sorted by key_col when set so parquet min/max
        footers stay selective) — same logical rows, fewer files.
        ``zorder_by=[c1, c2, ...]`` clusters the rewrite on a Morton
        key instead (operators/layout.zorder_key): every output file
        covers a small hyper-rectangle of the column space, so
        read_between / Spark's own footer pruning stay selective on
        ANY of the listed dimensions — the multi-tenant answer when a
        single sort column can't serve every query. Readers pinned on
        any older version are untouched: their groups stay on disk
        until vacuum()."""

        def plan(m: dict) -> _Plan:
            df = self.read(m["version"])
            keys = _key_cols(m)
            if m.get("bucket"):
                if zorder_by:
                    raise ValueError(
                        "bucketed tables own their layout — zorder_by does "
                        "not compose with bucket_by"
                    )
                # one task per bucket (bucketBy's bucket id is this hash
                # partitioning's) with rows in key order: one file per
                # bucket, and bytes that do not follow the read's file
                # packing, so two compacts write the same bytes
                b = m["bucket"]
                df = df.repartition(b["n"], b["col"]).sortWithinPartitions(
                    *(keys or [b["col"]])
                )
            elif zorder_by:
                from sif_spark.operators.layout import zorder_key

                df2, zk = zorder_key(df, zorder_by)
                df = df2.withColumn("__zkey", zk)
                df = (
                    df.repartitionByRange(num_files, "__zkey")
                    if num_files
                    else df.repartitionByRange("__zkey")
                ).sortWithinPartitions("__zkey").drop("__zkey")
            elif num_files and keys:
                df = df.repartitionByRange(num_files, *keys).sortWithinPartitions(
                    *keys
                )
            elif num_files:
                df = df.repartition(num_files)
            elif keys:
                df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
            return _Plan(["wg"], m["schema"], _columns_of(m), {"wg": df})

        return self._op_once("compact", plan)

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (the
        lakehouse RESTORE shape): the old snapshot's groups are
        re-referenced — nothing is copied or deleted — so the undone
        versions stay time-travelable until vacuum, and a vacuum after
        restore keeps the restored groups live because the HEAD
        references them. The txn high-water map carries forward
        (streams do not replay into a restored table — re-ingest under
        a new app_id if that is the intent); the change feed emits
        nothing for a restore (append-mostly contract: removals are
        not tombstoned)."""
        old = self._load(version)  # raises on unknown version
        return self._op_once("restore", lambda m: _Plan(
            old["groups"], old["schema"], _columns_of(old), fields={
                "dvs": old.get("dvs") or [], "restored_from": version,
                **{f: old.get(f, _SPEC[f]) for f in _SPEC if f not in ("cdf", "dv")},
            },
        ))

    def _bootstrap_columns(self, m: dict) -> tuple[list[dict], list[dict]]:
        """(columns, groups) with ids synthesized for a legacy table:
        before the first rename/drop every group aligned BY NAME, so
        the by-name correspondence IS the id assignment — each group's
        ``col_ids`` maps its written names to the id of the same-named
        snapshot column (written names outside the snapshot get no id:
        they were invisible before and stay invisible). From then on
        alignment is by id."""
        cols = _columns_of(m)
        if cols is None:
            cols = [
                {"id": i, "name": n}
                for i, n in enumerate(_schema_names(m["schema"]))
            ]
        by_name = {c["name"]: c["id"] for c in cols}
        groups = []
        for g in m["groups"]:
            if g.get("col_ids") is None:
                ids = {
                    n: by_name[n]
                    for n in _schema_names(g["schema"])
                    if n in by_name
                }
                g = {**g, "col_ids": ids}
            groups.append(g)
        return cols, groups

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column as a METADATA-ONLY commit (VERDICT r11
        "Next round" #3): no data file is touched — reads map groups
        to the snapshot by COLUMN ID, so files written under the old
        name surface under the new one (including pre-rename change
        files in the CDC feed, pinned in tests). The merge key and
        stats/bloom skipping follow the rename. The bucket column
        cannot be renamed (its name is baked into the persistent
        bucketed-table DDL)."""

        def plan(m: dict) -> _Plan:
            names = _schema_names(m["schema"])
            if old not in names:
                raise ValueError(f"no column {old!r} in snapshot schema")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            if not new.isidentifier():
                raise ValueError(f"invalid column name {new!r}")
            if m.get("bucket") and m["bucket"]["col"] == old:
                raise ValueError(
                    "the bucket column's name is baked into the bucketed "
                    "layout DDL — rebuild the table to rename it"
                )
            columns, groups = self._bootstrap_columns(m)
            columns = [
                {**c, "name": new} if c["name"] == old else c for c in columns
            ]
            target = T._parse_datatype_string(m["schema"])
            renamed = T.StructType([
                T.StructField(new, f.dataType) if f.name == old else f
                for f in target.fields
            ])
            return _Plan(groups, renamed, columns, fields={
                "renamed": {"from": old, "to": new},
                "key_col": new if m.get("key_col") == old else m.get("key_col"),
                "key_cols": (
                    [new if c == old else c for c in m["key_cols"]]
                    if m.get("key_cols")
                    else m.get("key_cols")
                ),
            })

        return self._op_once("rename_column", plan)

    def drop_column(self, name: str) -> int:
        """Drop a column as a METADATA-ONLY commit: the data files
        keep the bytes (reads never select them), and the NEXT
        ``compact()`` rewrites without the column, physically
        reclaiming it (the deferred-reclaim contract — same division
        as vacuum for rows). Re-adding the name later mints a FRESH
        column id, so the old files' data can never resurface under
        the new column (pinned in tests). The merge key and bucket
        column cannot be dropped."""

        def plan(m: dict) -> _Plan:
            names = _schema_names(m["schema"])
            if name not in names:
                raise ValueError(f"no column {name!r} in snapshot schema")
            if name in _key_cols(m):
                raise ValueError("cannot drop the table's merge key")
            if m.get("bucket") and m["bucket"]["col"] == name:
                raise ValueError("cannot drop the bucket column")
            if len(names) == 1:
                raise ValueError("cannot drop the only column")
            columns, groups = self._bootstrap_columns(m)
            columns = [c for c in columns if c["name"] != name]
            target = T._parse_datatype_string(m["schema"])
            kept = T.StructType([f for f in target.fields if f.name != name])
            return _Plan(groups, kept, columns, fields={"dropped": name})

        return self._op_once("drop_column", plan)

    def vacuum(
        self, retain_last: int = 2, cdf_retain_last: int | None = None
    ) -> list[str]:
        """Physically delete data groups referenced ONLY by versions
        older than the last ``retain_last`` snapshots (and drop those
        manifests). The one deleting operation — run it with the same
        retention discipline as any lakehouse (readers of vacuumed
        versions break, by contract).

        ``cdf_retain_last`` (VERDICT r11 "Next round" #8) gives the
        cdc/ directory its OWN, shorter retention: change files of
        versions older than the last ``cdf_retain_last`` snapshots are
        reclaimed even while their snapshots stay time-travelable
        (change files carry full pre/post-images, so they outgrow the
        data they describe). The contract for a slow consumer is a
        TYPED error, never a silent gap: ``changes()`` over a reclaimed
        change file (cdf) or a dropped manifest (either mode) raises
        ChangeFeedIncompleteError naming the missing range, and the
        `sif_table` stream, which plans through the same
        ``feed_window``, fails its query with that error instead of
        delivering the surviving part of the window. Must be <=
        retain_last is not required — values above it are simply
        capped by the manifest retention."""
        versions = self._versions()
        doomed = []
        if cdf_retain_last is not None and len(versions) > cdf_retain_last:
            for v in versions[:-cdf_retain_last]:
                cdc = self._load(v).get("cdc")
                if cdc and self.log.exists(cdc["path"]):
                    doomed.append(cdc["path"])
                    self.log.delete(cdc["path"])
        if len(versions) <= retain_last:
            return doomed
        live = set()  # group and dv sidecar dirs a retained version reads
        for v in versions[-retain_last:]:
            km = self._load(v)
            live.update(d["path"] for d in km["groups"] + (km.get("dvs") or []))
        doomed_manifests = versions[: -retain_last]
        doomed2 = []
        for v in doomed_manifests:
            dm = self._load(v)
            for g in dm["groups"]:
                if g["path"] not in live:
                    doomed2.append(g["path"])
            # dv sidecars are SHARED across versions (carried forward
            # until their groups rewrite) — reclaim only when no
            # retained manifest references them
            for d in dm.get("dvs") or []:
                if d["path"] not in live and d["path"] not in doomed2:
                    doomed2.append(d["path"])
            if dm.get("cdc") and dm["cdc"]["path"] not in doomed:
                # a change file belongs to exactly its own version —
                # dropping the manifest makes it unreachable
                doomed2.append(dm["cdc"]["path"])
        manifests = [_manifest_file(self.path, v) for v in doomed_manifests]
        for path in doomed2 + manifests:  # data dirs first
            self.log.delete(path)
        return doomed + doomed2
