"""Manifest-versioned gold store: snapshot isolation, time travel,
rollback, vacuum, and a file-granular copy-on-write MERGE.

This is the transactional-sink refinement VERDICT r3 recorded as the
one remaining "missing" item (reference MERGE semantics:
/root/reference/etl/loaders/mongodb_loader.py:93-197). delta-spark is
absent in this environment, so the commit-log idea Delta/Iceberg embody
is implemented directly, minimally, on plain parquet + a directory of
JSON manifests:

- ``<table>/data/``        immutable parquet data files, never edited;
- ``<table>/_manifests/v{N}.json``  snapshot N = the exact file list
  that constitutes the table at version N (+ parent, op, stats).

A snapshot is committed by a single atomic ``os.rename`` of the
manifest (on an object store: a conditional PUT of the same pointer
object). Readers resolve ``max(vN)`` and read only files that manifest
names — a crash mid-write leaves at worst orphaned data files that
``vacuum`` reclaims, never a torn table. Concurrent writers are safe:
the manifest publishes via ``os.link``, which fails atomically if the
version already exists (``CommitConflict`` — the POSIX analogue of an
object store's conditional PUT); the loser re-reads and retries.

Why this scales to 100 TB where ``atomic_overwrite`` does not:
``merge_files`` rewrites ONLY the data files holding one of the
incoming batch's keys; untouched files are carried into the new
manifest by name. One planner finds those files: the batch's distinct
key tuples are collected once (one Arrow job), a bisect over them skips
every shard and file whose manifest ``[min, max]`` of the first key
holds none, and one LEFT SEMI join of the candidates against the keys,
broadcast as a local frame, names the touched files
(``input_file_name``, no shuffle). The driver holds O(distinct batch
keys); executors do O(touched files + batch). Time travel and rollback
are manifest-only operations — zero data movement.

Every manifest records its snapshot's physical ``schema``: the union of
its data files' schemas (a full overwrite replaces it, ``rollback``
restores the target's). Reads take the schema from there instead of
inferring it from file footers, which costs a Spark job per read; a
manifest without one is read with ``mergeSchema`` as before.

Every copy-on-write op (merge, delete_where, delete_matching,
apply_deletes, optimize, optimize_small_files) ends in ``_rewrite``:
the op names the parent files it ``touched`` and the rows that replace
them; ``_rewrite`` writes those rows as version ``parent + 1``,
carries every other file by name with its stats entry, and commits
against ``parent``. Stats rule: a rewritten file gets min/max stats
for the parent's range columns (every per-file stats key except the
Bloom entry, as long as the rows still carry it) plus the op's
required ones (the merge key, optimize's clustering columns). Rewritten files carry no Bloom filter;
``point_lookup`` treats a file without one as a candidate.
"""

from __future__ import annotations

import base64
import bisect
import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pim_etl_spark.pipeline.gold import apply_upsert, upsert_latest

_MANIFESTS = "_manifests"
_DATA = "data"


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot number first; the
    caller must re-read table state and retry (optimistic concurrency
    — detected, never silently clobbered)."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, _MANIFESTS)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:06d}.json")


def _entry_path(table_path: str, name: str) -> str:
    """Resolve a manifest entry to its on-disk location: plain names
    live in this table's ``data/``; ABSOLUTE names reference another
    table's data files — the zero-copy mechanism behind
    ``shallow_clone`` (Delta/Iceberg shallow CLONE: the clone's
    manifest points at the source's immutable files; the first write
    that touches one rewrites it locally, copy-on-write)."""
    if os.path.isabs(name):
        return name
    return os.path.join(table_path, _DATA, name)


def current_version(path: str) -> int:
    """Highest committed snapshot number; 0 if the table is empty."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    ]
    return max(versions, default=0)


# Above this many files, a snapshot's file list is split into SHARD
# files referenced by name from the (now tiny) snapshot pointer — the
# Iceberg manifest-list shape (VERDICT r4 #4: one inline JSON list is
# ~100 MB of driver-side object per commit at O(10⁶) files). Commits
# REUSE the parent's shards whose entries all carry forward, so commit
# cost is O(changed files / shard churn), not O(table files).
MANIFEST_SHARD_SIZE = 4096


def _shard_file(path: str, name: str) -> str:
    return os.path.join(_manifest_dir(path), name)


def _load_shard(path: str, name: str) -> list[dict]:
    with open(_shard_file(path, name)) as fh:
        return json.load(fh)


def read_manifest(path: str, version: int, materialize: bool = True) -> dict:
    """Load snapshot ``version``'s manifest. Sharded manifests (large
    tables) keep the snapshot pointer tiny; ``materialize=True``
    (default) folds the shard entries back into ``files`` /
    ``file_stats`` for the in-process merge/diff logic. Pass
    ``materialize=False`` for metadata-only access (history walks,
    AS-OF resolution) or when consuming entries distributedly via
    ``manifest_files_df``."""
    with open(_manifest_path(path, version)) as fh:
        m = json.load(fh)
    if materialize and "shards" in m:
        files: list[str] = []
        fstats: dict = {}
        for s in m["shards"]:
            for e in _load_shard(path, s):
                files.append(e["name"])
                if e.get("stats"):
                    fstats[e["name"]] = e["stats"]
        m = {**m, "files": sorted(files), "file_stats": fstats}
    return m


def manifest_files_df(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """The snapshot's file-level entries as a DataFrame — the scale
    path for consuming a sharded manifest (an O(10⁶)-file manifest is
    planned/joined distributedly instead of materializing a
    driver-side list; Iceberg's metadata-table idea). Columns: at
    least ``name``; ``stats`` when per-file stats were recorded."""
    v = current_version(path) if version is None else version
    m = read_manifest(path, v, materialize=False)
    if "shards" in m:
        return spark.read.option("multiLine", "true").json(
            [_shard_file(path, s) for s in m["shards"]]
        )
    entries = [
        {"name": f, "stats": json.dumps(m.get("file_stats", {}).get(f))}
        for f in m["files"]
    ]
    return spark.createDataFrame(entries, "name string, stats string")


def history(path: str) -> list[dict]:
    """Commit log, oldest first: [{version, op, parent, stats}, ...].
    Vacuumed (expired) manifests are skipped."""
    out = []
    for v in range(1, current_version(path) + 1):
        if os.path.exists(_manifest_path(path, v)):
            out.append(read_manifest(path, v, materialize=False))
    return out


# Per-file Bloom filters live INSIDE the per-file stats dict under this
# reserved key, so they ride every existing carry/shard/merge path that
# copies stats by file name — zero extra plumbing. Min/max ranges prune
# RANGE predicates but are useless for point lookups on scattered keys
# (every file's [lo, hi] spans the domain); the Bloom prunes those —
# the manifest-level analogue of the reference's unique product_id
# index (/root/reference/schemas/unified_product_schema.py:229-248).
_BLOOM_KEY = "__bloom__"


def _bloom_positions(col: str, m: int, k: int):
    """The k bit positions of ``col`` under seeded xxhash64 — an
    EXPRESSION list, so writer and prober share the exact hash."""
    return [F.pmod(F.xxhash64(F.lit(i), F.col(col)), F.lit(m)) for i in range(k)]


def _pack_bloom(positions: Sequence[int], m: int) -> str:
    bits = bytearray(m // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def _bloom_has(b64: str, positions: Sequence[int]) -> bool:
    bits = base64.b64decode(b64)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)


def _read_footers(staging: str, staged_names: Sequence[str]) -> dict:
    """Parquet footer metadata of each staged file, driver-side (no
    Spark job); ``None`` for a footer that cannot be read."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    footers: dict = {}
    for f in staged_names:
        try:
            footers[f] = _pq.ParquetFile(os.path.join(staging, f)).metadata
        except (OSError, _pa.ArrowException):
            footers[f] = None
    return footers


def _stats_from_footers(
    staging: str,
    staged_names: Sequence[str],
    stats_cols: Sequence[str],
    footers: dict | None = None,
) -> dict | None:
    """Per-file min/max of ``stats_cols`` read straight from the parquet
    FOOTERS, driver-side — zero Spark jobs (r12 optimization, guide §1.2
    step 1: the old path launched a scan+aggregate job per commit whose
    answer the writer had already persisted in the chunk statistics).

    Exactness contract: only types whose parquet chunk statistics are
    provably the exact column min/max are served from the footer —
    integers, DATE, BOOLEAN, and UTF8 strings (parquet-mr drops binary
    stats entirely rather than truncating them at the chunk level, so
    present string stats are full values and compare in the same
    unsigned-byte order Spark's ``min``/``max`` uses). Floats/doubles
    (NaN makes writer stats untrustworthy) and timestamps (pyarrow
    surfaces them tz-adjusted, unlike a collected Spark row) return
    ``None`` → the caller falls back to the Spark stats job, as does
    any file whose footer lacks min/max for a non-empty column. The
    returned values are exactly what the Spark job's ``collect()``
    yields for these types (int / str / datetime.date / bool), so
    manifests, pruning joins, and any stats-bearing gated output are
    bit-identical either way. ``footers`` are ``_read_footers``'
    result when the caller has already read them."""
    if footers is None:
        footers = _read_footers(staging, staged_names)
    stats: dict = {}
    for f in staged_names:
        md = footers[f]
        if md is None:
            # an unreadable footer only costs the Spark stats job; any
            # other error is a bug and propagates
            return None
        schema = md.schema
        col_idx = {schema.column(i).name: i for i in range(len(schema))}
        per_col: dict = {}
        for c in stats_cols:
            i = col_idx.get(c)
            if i is None:
                return None
            pcol = schema.column(i)
            phys = pcol.physical_type
            logical = str(pcol.logical_type)
            ok = (
                phys in ("INT32", "INT64", "BOOLEAN")
                and not logical.startswith(("Timestamp", "Time", "Decimal"))
            ) or (phys == "BYTE_ARRAY" and logical.startswith("String"))
            if not ok:
                return None
            mn = mx = None
            for rg in range(md.num_row_groups):
                cc = md.row_group(rg).column(i)
                st = cc.statistics
                n_vals = cc.num_values if cc.num_values is not None else 0
                if st is None or not st.has_min_max:
                    if n_vals and (st is None or (st.null_count or 0) < n_vals):
                        # non-null values exist but no trustworthy
                        # min/max → this footer can't serve the stats
                        return None
                    continue  # all-null / empty row group contributes nothing
                lo, hi = st.min, st.max
                if phys == "BYTE_ARRAY":
                    # Exactness guard (r13, VERDICT r12 #4 / ADVICE):
                    # parquet-mr DROPS oversized binary chunk stats, but
                    # other writers (or a configured
                    # parquet.statistics.truncate.length) emit TRUNCATED
                    # min/max, and this pyarrow build surfaces no
                    # is_{min,max}_value_exact flags. A truncated bound
                    # still prunes correctly but is not the column's
                    # VALUE, which manifests/gated outputs carry. Reject
                    # string stats at/beyond a conservative length (the
                    # common truncation default is 64 bytes) and fall
                    # back to the Spark stats job for that commit.
                    if (
                        len(str(lo).encode("utf-8")) >= 60
                        or len(str(hi).encode("utf-8")) >= 60
                    ):
                        return None
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
            per_col[c] = [mn, mx]
        stats[f] = per_col
    return stats


def _write_data_files(
    df: DataFrame,
    path: str,
    version: int,
    stats_cols: Sequence[str] = (),
    bloom_col: str | None = None,
    bloom_bits: int = 8192,
    bloom_k: int = 3,
) -> tuple[list[str], dict]:
    """Materialize ``df`` as immutable data files; returns their names
    (relative to ``<table>/data/``) and, when ``stats_cols`` is set,
    per-file min/max stats for those columns (the manifest-level
    data-skipping index — Delta's file statistics). The Spark job
    writes to a staging dir, then each part-file is renamed (same
    filesystem — a move, not a copy) into ``data/`` under a
    version+token prefix so names never collide across commits.

    Stats come from the parquet FOOTERS when the column types allow an
    exact read (``_stats_from_footers`` — zero extra Spark jobs, the
    Delta/Iceberg production shape); otherwise one scan of the NEW
    files only computes them (never the table)."""
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(path, _DATA)
    os.makedirs(data_dir, exist_ok=True)
    token = uuid.uuid4().hex[:8]
    staged = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    footers = _read_footers(staging, staged)
    # a part file of an empty partition holds no rows: registered, every
    # later scan would open it and every merge that cannot prune would
    # take it as a candidate. An empty frame still commits one file, so
    # the snapshot carries a readable schema.
    kept = [f for f in staged if footers[f] is None or footers[f].num_rows > 0] or staged[:1]
    names = []
    renames = {}
    for i, f in enumerate(kept):
        name = f"v{version:06d}-{token}-{i:05d}.parquet"
        renames[f] = name
        names.append(name)
    stats: dict = {}
    if stats_cols and names:
        footer = _stats_from_footers(staging, kept, stats_cols, footers)
        if footer is not None:
            for src, per_col in footer.items():
                stats[renames[src]] = per_col
        else:
            # fallback: one scan of the NEW files only (never the
            # table), grouped by physical file
            spark = df.sparkSession
            aggs = []
            for c in stats_cols:
                aggs.append(F.min(c).alias(f"min_{c}"))
                aggs.append(F.max(c).alias(f"max_{c}"))
            for r in (
                spark.read.parquet(staging)
                .withColumn("__f", F.element_at(F.split(F.input_file_name(), "/"), -1))
                .groupBy("__f")
                .agg(*aggs)
                .collect()
            ):
                fname = renames.get(r["__f"])
                if fname:
                    stats[fname] = {
                        c: [r[f"min_{c}"], r[f"max_{c}"]] for c in stats_cols
                    }
    if bloom_col and names:
        # second metadata pass over the NEW files only: per-file set of
        # occupied bit positions (<= bloom_bits ints — manifest-sized),
        # packed driver-side into a base64 bitset. The hash is the same
        # seeded-xxhash64 expression the prober uses, so membership
        # tests can never drift between writer and reader.
        spark = df.sparkSession
        pos_rows = (
            spark.read.parquet(staging)
            .withColumn("__f", F.element_at(F.split(F.input_file_name(), "/"), -1))
            .select(
                "__f",
                F.explode(
                    F.array(*_bloom_positions(bloom_col, bloom_bits, bloom_k))
                ).alias("__p"),
            )
            .groupBy("__f")
            .agg(F.collect_set("__p").alias("__ps"))
            .collect()
        )
        for r in pos_rows:
            fname = renames.get(r["__f"])
            if fname:
                stats.setdefault(fname, {})[_BLOOM_KEY] = {
                    "col": bloom_col,
                    "m": bloom_bits,
                    "k": bloom_k,
                    "b64": _pack_bloom(r["__ps"], bloom_bits),
                }
    for src, name in renames.items():
        os.rename(os.path.join(staging, src), os.path.join(data_dir, name))
    shutil.rmtree(staging, ignore_errors=True)
    return names, stats


def _shard_range_stats(names: Sequence[str], file_stats: dict) -> dict:
    """Pointer-level summary of one shard: entry count + per-column
    [lo, hi] over its entries' file stats — the shard-pruning index.
    Non-range entries (the ``__bloom__`` filter) are file-local and
    don't summarize to a shard range, so they're skipped here."""
    cols: dict[str, list] = {}
    for n in names:
        for c, rng in (file_stats.get(n) or {}).items():
            if c == _BLOOM_KEY or not isinstance(rng, (list, tuple)):
                continue
            lo, hi = rng
            if lo is None or hi is None:
                continue
            cur = cols.get(c)
            if cur is None:
                cols[c] = [lo, hi]
            else:
                cur[0] = min(cur[0], lo)
                cur[1] = max(cur[1], hi)
    return {"n": len(names), "cols": cols}


def _commit(
    path: str,
    files: list[str],
    op: str,
    stats: dict,
    file_stats: dict | None = None,
    txn: tuple[str, int] | None = None,
    extra: dict | None = None,
    expect_parent: int | None = None,
    carry_shards: Sequence[str] | None = None,
    delete_files: Sequence[str] | None = None,
    schema: StructType | None = None,
    overwrite: bool = False,
) -> int:
    """Atomically publish a new snapshot naming exactly ``files``.

    ``schema`` is the schema of the data files this commit wrote
    (``None``: it wrote none). The snapshot's recorded schema is the
    parent's widened by it, or ``schema`` alone when the commit carries
    no parent file (``overwrite``, or the first commit). An ``extra``
    ``schema`` entry sets it outright (``rollback``, ``shallow_clone``).

    ``delete_files`` are the snapshot's outstanding merge-on-read
    position-delete sidecars. ``None`` (default) inherits the
    parent's — correct for any commit that carries the parent's data
    files untouched (append) or was guarded against pending deletes;
    pass an explicit list to set them (``delete_where_mor``) or ``()``
    to clear (``apply_deletes``, full-snapshot overwrite).

    ``txn=(app_id, txn_version)`` records idempotence state (Delta's
    txnAppId/txnVersion): the manifest carries a map of the highest
    committed transaction version per writer app, merged forward on
    EVERY commit, so a replayed micro-batch can be detected and
    skipped (``last_txn_version``).

    ``expect_parent`` is the compare-and-swap guard: the caller passes
    the snapshot it READ its inputs from, and the commit lands as
    exactly ``expect_parent + 1`` — if a concurrent writer got there
    first, the link-publish collides and ``CommitConflict`` raises
    instead of silently committing a LOST UPDATE derived from stale
    state on top of the winner."""
    parent = current_version(path) if expect_parent is None else expect_parent
    version = parent + 1
    # the parent's pointer: its txn map, delete files, renames, schema
    # and (sharded) shard stats
    parent_meta = read_manifest(path, parent, materialize=False) if parent else {}
    parent_txn = parent_meta.get("txn", {})
    if txn:
        parent_txn = {**parent_txn, txn[0]: txn[1]}
    if delete_files is None:
        delete_files = parent_meta.get("delete_files", [])
    os.makedirs(_manifest_dir(path), exist_ok=True)
    import time as _time

    manifest = {
        "version": version,
        "parent": parent or None,
        "committed_at_unix": _time.time(),  # observability/AS-OF only
        "op": op,
        "stats": stats,
        "txn": parent_txn,
        **(extra or {}),
    }
    if delete_files:
        manifest["delete_files"] = sorted(delete_files)
    if "column_renames" not in manifest:
        # column renames are cumulative table metadata: every commit
        # carries the parent's list forward (rename_column extends it;
        # rollback restores the target's)
        renames = parent_meta.get("column_renames")
        if renames:
            manifest["column_renames"] = renames
    if "schema" not in manifest:
        written = _schema_json(schema) if schema is not None else None
        if overwrite or not parent:
            manifest["schema"] = written
        elif written is None:
            manifest["schema"] = parent_meta.get("schema")
        else:
            manifest["schema"] = _union_schema(parent_meta.get("schema"), written)
    if manifest["schema"] is None:
        del manifest["schema"]  # unknown: readers infer it (mergeSchema)
    if carry_shards is None and len(files) <= MANIFEST_SHARD_SIZE:
        manifest["files"] = sorted(files)
        manifest["file_stats"] = file_stats or {}
    else:
        # sharded manifest: the pointer stays tiny at any file count.
        # Parent shards whose entries ALL carry into the new snapshot
        # are reused BY NAME (immutable, like data files) — an append
        # or narrow merge rewrites O(churned shards), never the whole
        # file list. ``carry_shards`` is the planner fast path: the
        # caller (sharded merge/delete) already KNOWS which parent
        # shards carry wholesale, so the containment loop (which loads
        # every parent shard) is skipped entirely — commit cost drops
        # to O(changed entries + carried shard COUNT). The pointer
        # records per-shard entry counts and per-column [lo, hi]
        # ranges, so the NEXT planner prunes at shard granularity
        # before opening any shard (Iceberg's manifest-list ranges).
        # Shards are written (tmp+rename) BEFORE the pointer links; a
        # crash leaves orphan shards that vacuum reclaims, never a
        # torn manifest.
        parent_sstats = parent_meta.get("shard_stats", {})
        reused: list[str] = []
        reused_stats: dict[str, dict] = {}
        remaining = set(files)
        if carry_shards is not None:
            for s in carry_shards:
                reused.append(s)
                st = parent_sstats.get(s)
                if st is None:  # pre-range-format shard: count on load
                    entries = _load_shard(path, s)
                    st = _shard_range_stats([e["name"] for e in entries],
                                            {e["name"]: e.get("stats") for e in entries})
                reused_stats[s] = st
        else:
            for s in parent_meta.get("shards", []):
                entries = _load_shard(path, s)
                names = [e["name"] for e in entries]
                if names and all(n in remaining for n in names):
                    reused.append(s)
                    remaining.difference_update(names)
                    reused_stats[s] = parent_sstats.get(s) or _shard_range_stats(
                        names, {e["name"]: e.get("stats") for e in entries}
                    )
        fs = file_stats or {}
        new_shards: list[str] = []
        new_sstats: dict[str, dict] = {}
        rem_sorted = sorted(remaining)
        token = uuid.uuid4().hex[:8]
        for i in range(0, len(rem_sorted), MANIFEST_SHARD_SIZE):
            chunk = rem_sorted[i : i + MANIFEST_SHARD_SIZE]
            name = f"m-{version:06d}-{token}-{i // MANIFEST_SHARD_SIZE:05d}.json"
            stmp = _shard_file(path, name) + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(stmp, "w") as fh:
                json.dump(
                    [{"name": n, "stats": fs.get(n)} for n in chunk], fh, default=str
                )
            os.rename(stmp, _shard_file(path, name))
            new_shards.append(name)
            new_sstats[name] = _shard_range_stats(chunk, fs)
        manifest["shards"] = sorted(reused) + new_shards
        manifest["shard_stats"] = {**reused_stats, **new_sstats}
        manifest["n_files"] = sum(
            int(st.get("n", 0)) for st in reused_stats.values()
        ) + len(rem_sorted)
    tmp = _manifest_path(path, version) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, default=str)
    # publish via hardlink, not rename: link() FAILS atomically if the
    # version was already committed by a concurrent writer (rename
    # would silently clobber it). This is the POSIX form of an object
    # store's conditional PUT — optimistic concurrency control.
    try:
        os.link(tmp, _manifest_path(path, version))
    except FileExistsError as exc:
        raise CommitConflict(
            f"snapshot v{version} of {path!r} was committed concurrently; "
            f"re-read the table state and retry the operation"
        ) from exc
    finally:
        os.unlink(tmp)
    return version


def commit_snapshot(
    df: DataFrame,
    path: str,
    op: str = "snapshot",
    stats_cols: Sequence[str] = (),
    bloom_col: str | None = None,
    bloom_bits: int = 8192,
    bloom_k: int = 3,
    txn: tuple[str, int] | None = None,
) -> int:
    """Full-snapshot commit (CTAS / initial load): new files, new
    manifest referencing only them. ``bloom_col`` additionally records
    a per-file Bloom filter over that column for point-lookup file
    skipping (``point_lookup``); ``txn`` records a writer's watermark
    (``commit_snapshot_txn``)."""
    version = current_version(path) + 1
    files, fstats = _write_data_files(
        df, path, version, stats_cols=stats_cols, bloom_col=bloom_col,
        bloom_bits=bloom_bits, bloom_k=bloom_k,
    )
    return _commit(
        path, files, op, {"files_written": len(files)},
        file_stats=fstats, txn=txn, expect_parent=version - 1,
        delete_files=(),  # full overwrite: parent DVs reference replaced files
        schema=df.schema, overwrite=True,
    )


def commit_append(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str] = (),
    bloom_col: str | None = None,
    bloom_bits: int = 8192,
    bloom_k: int = 3,
    extra: dict | None = None,
) -> int:
    """Blind append (O(batch)): parent's files carry over by name,
    only the new rows are written. ``extra`` lands in the manifest
    (e.g. the writer's ``partition_spec`` — see
    versioned_partition_evolution)."""
    parent = current_version(path)
    pm = read_manifest(path, parent) if parent else {}
    carried = pm.get("files", [])
    files, fstats = _write_data_files(
        df, path, parent + 1, stats_cols=stats_cols, bloom_col=bloom_col,
        bloom_bits=bloom_bits, bloom_k=bloom_k,
    )
    return _commit(
        path,
        carried + files,
        "append",
        {"files_written": len(files), "files_carried": len(carried)},
        file_stats={**pm.get("file_stats", {}), **fstats},
        expect_parent=parent,
        extra=extra,
        schema=df.schema,
    )


def snapshot_files(path: str, version: int | None = None) -> list[str]:
    v = current_version(path) if version is None else version
    if v == 0:
        return []
    return [_entry_path(path, f) for f in read_manifest(path, v)["files"]]


def _head(path: str, version: int | None = None) -> tuple[int, dict]:
    """Snapshot ``version`` (default: latest) and its materialized
    manifest; a table without a committed, non-empty snapshot raises
    the descriptive error instead of a missing-``v000000.json`` one."""
    v = current_version(path) if version is None else version
    manifest = read_manifest(path, v) if v else {}
    if not manifest.get("files"):
        raise FileNotFoundError(f"versioned table {path!r} has no committed snapshot")
    return v, manifest


_NULL_FLAGS = ("nullable", "containsNull", "valueContainsNull")


def _schema_json(schema: StructType) -> dict:
    """``schema`` as a manifest records it: its JSON with every
    nullability flag set, the way a file read surfaces it."""

    def nullable(t):
        if isinstance(t, list):
            return [nullable(x) for x in t]
        if not isinstance(t, dict):
            return t
        return {
            k: True if k in _NULL_FLAGS else v if k == "metadata" else nullable(v)
            for k, v in t.items()
        }

    return nullable(schema.jsonValue())


def _union_schema(a: dict | None, b: dict) -> dict | None:
    """The union of two recorded schemas, ``a``'s columns first and
    ``b``'s new ones after them (a mergeSchema read's order over files
    written in that order). ``None`` when ``a`` is unknown or a column
    carries two types: readers then infer the schema."""
    if a is None:
        return None
    have = {f["name"]: f["type"] for f in a["fields"]}
    added = []
    for f in b["fields"]:
        if f["name"] not in have:
            added.append(f)
        elif have[f["name"]] != f["type"]:
            return None
    return {**a, "fields": a["fields"] + added}


def _scan(
    spark: SparkSession, path: str, files: Sequence[str], meta: dict, dvs=None
) -> DataFrame:
    """Read manifest entries ``files`` under the table's LOGICAL column
    names (``meta``'s renames), with the physical schema manifest
    ``meta`` records; ``files`` must be among its entries. Without a
    recorded schema the read merges the files' footer schemas
    (mergeSchema): the files may span a schema-evolution commit, and a
    sampled footer schema would silently drop evolved columns (older
    files surface added columns as NULL, as they do under the recorded
    union). Deletion vectors ``dvs`` address physical rows, so they
    apply to the raw scan, before the renames."""
    schema = meta.get("schema")
    reader = (
        spark.read.schema(StructType.fromJson(schema))
        if schema is not None
        else spark.read.option("mergeSchema", "true")
    )
    df = reader.parquet(*[_entry_path(path, f) for f in files])
    if dvs:
        df = _apply_delete_vectors(spark, path, df, dvs)
    return _apply_renames(df, meta.get("column_renames"))


def _apply_renames(df: DataFrame, renames) -> DataFrame:
    """Surface a raw physical scan under the table's LOGICAL column
    names (metadata-only RENAME, Iceberg-style: a rename never rewrites
    data). Files written before the rename carry the old physical
    name, files written after carry the new one, so a mergeSchema scan
    spanning the rename holds BOTH columns — and any given row has a
    value in at most one of them (its file's writer knew exactly one
    name): coalesce folds the pair into the logical column, at the
    first of the two positions, so a renamed column keeps its place
    whichever file a scan's schema lists first. Applied in rename
    order, so chains (a→b, then b→c) resolve correctly."""
    for r in renames or []:
        src, dst = r["from"], r["to"]
        if dst is None:
            # metadata-only DROP: the physical column may persist in
            # pre-drop files until compaction; readers never see it
            df = df.drop(src)
        elif src in df.columns and dst in df.columns:
            folded = F.coalesce(F.col(dst), F.col(src)).alias(dst)
            first = next(c for c in df.columns if c in (src, dst))
            df = df.select(*[
                folded if c == first else F.col(c)
                for c in df.columns
                if c not in (src, dst) or c == first
            ])
        elif src in df.columns:
            df = df.withColumnRenamed(src, dst)
    return df


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the table exactly as of snapshot ``version``
    (default: latest). Only manifest-listed files are scanned, so
    readers are fully isolated from in-flight writes."""
    v, m = _head(path, version)
    # merge-on-read: the snapshot's position-delete sidecars are
    # subtracted (broadcast anti-join — O(pending deletes) read tax,
    # reclaimed by apply_deletes)
    return _scan(spark, path, m["files"], m, m.get("delete_files"))


def point_lookup_plan(
    spark: SparkSession, path: str, col: str, values, version: int | None = None
) -> dict:
    """Plan a point lookup: which data files can contain ``col`` IN
    ``values``, pruned first by the manifest min/max range, then by the
    per-file Bloom filter (``bloom_col`` at commit time). The Bloom is
    what makes point lookups cheap on SCATTERED keys, where every
    file's [lo, hi] spans the whole domain and range pruning is
    useless. Probe positions are computed by the same seeded-xxhash64
    Spark expression that built the filters (a values-sized local job),
    so writer and prober can never disagree on the hash."""
    v, m = _head(path, version)
    return _lookup_plan(spark, path, v, m, col, _value_list(values))


def _value_list(values) -> list:
    return list(values) if isinstance(values, (list, tuple, set)) else [values]


def _lookup_plan(
    spark: SparkSession, path: str, v: int, m: dict, col: str, val_list: list
) -> dict:
    """``point_lookup_plan`` over snapshot ``v``'s materialized
    manifest ``m``."""
    files = m["files"]
    fstats = m.get("file_stats", {})
    # files may have been committed with DIFFERENT bloom (m, k) params
    # (a config change between appends); probe positions are only valid
    # for the (m, k) they were computed with, so build one probe table
    # per distinct parameterization — testing a file against positions
    # from another file's m would silently produce FALSE NEGATIVES.
    param_sets = {
        (b["m"], b["k"])
        for st in fstats.values()
        if (b := (st or {}).get(_BLOOM_KEY)) and b.get("col") == col
    }
    pos_by_param: dict[tuple, dict] = {}
    if param_sets and val_list:
        # the key's type, from the manifest schema (one footer read
        # without one)
        dtypes = dict(_scan(spark, path, files[:1], m).dtypes)
        probe = spark.createDataFrame(
            [(x,) for x in val_list], f"{col} {dtypes.get(col, 'bigint')}"
        )
        for m_bits, k in param_sets:
            pos_by_param[(m_bits, k)] = {
                r["__v"]: list(r["__ps"])
                for r in probe.select(
                    F.col(col).alias("__v"),
                    F.array(*_bloom_positions(col, m_bits, k)).alias("__ps"),
                ).collect()
            }
    candidates: list[str] = []
    pruned_range = 0
    pruned_bloom = 0
    for f in files:
        st = fstats.get(f) or {}
        keep_vals = val_list
        rng = st.get(col)
        if isinstance(rng, (list, tuple)) and rng[0] is not None and rng[1] is not None:
            keep_vals = [x for x in keep_vals if rng[0] <= x <= rng[1]]
            if not keep_vals:
                pruned_range += 1
                continue
        b = st.get(_BLOOM_KEY)
        if b and b.get("col") == col:
            pos_by_val = pos_by_param.get((b["m"], b["k"]))
            if pos_by_val:
                keep_vals = [x for x in keep_vals if _bloom_has(b["b64"], pos_by_val[x])]
                if not keep_vals:
                    pruned_bloom += 1
                    continue
        candidates.append(f)
    return {
        "version": v,
        "files_total": len(files),
        "candidates": candidates,
        "pruned_by_range": pruned_range,
        "pruned_by_bloom": pruned_bloom,
    }


def point_lookup(
    spark: SparkSession, path: str, col: str, values, version: int | None = None
) -> DataFrame:
    """Point lookup through the manifest indexes: scans ONLY the files
    whose range AND Bloom admit one of ``values`` — O(matching files),
    not O(table) — then applies the exact predicate. Bloom false
    positives cost a wasted file scan, never a wrong row."""
    v, m = _head(path, version)
    val_list = _value_list(values)
    candidates = _lookup_plan(spark, path, v, m, col, val_list)["candidates"]
    if not candidates:
        return _scan(spark, path, m["files"][:1], m).filter(F.lit(False))
    # merge-on-read: a point lookup must not return a row whose
    # position a pending deletion vector covers; logical names before
    # the exact predicate, as ``col`` may be the new name of a renamed
    # column whose older files carry the old one
    out = _scan(spark, path, candidates, m, m.get("delete_files"))
    return out.filter(F.col(col).isin(val_list))


def history_df(spark: SparkSession, path: str) -> DataFrame:
    """The commit log as a DataFrame (Delta's DESCRIBE HISTORY):
    (version, op, parent, committed_at, n_files) — register it as a
    view and the audit trail is plain SQL."""
    rows = [
        (
            int(m["version"]),
            str(m["op"]),
            m.get("parent"),
            float(m.get("committed_at_unix") or 0.0),
            int(m.get("n_files", len(m.get("files", [])))),
        )
        for m in history(path)
    ]
    return spark.createDataFrame(
        rows,
        "version int, op string, parent int, committed_at_unix double, n_files int",
    ).orderBy("version")


def read_version_with_lineage(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read with FILE-GRANULAR lineage: each row carries
    ``_commit_version`` — the snapshot whose commit WROTE the file the
    row lives in (parsed from the immutable file name's ``vNNNNNN``
    prefix, zero extra I/O). Rewritten-but-identical rows show the
    rewriting commit (file granularity, not row granularity — the CDC
    feed ``changes_between`` gives true row-level change history)."""
    df = read_version(spark, path, version).withColumn(
        "_commit_version",
        F.regexp_extract(F.element_at(F.split(F.input_file_name(), "/"), -1), r"^v(\d{6})-", 1)
        .cast("int"),
    )
    return df


def _align_schemas(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution: add each side's missing columns as typed
    NULLs so the MERGE union lines up (Delta's mergeSchema write)."""
    a_types = dict(a.dtypes)
    b_types = dict(b.dtypes)
    for c, t in b_types.items():
        if c not in a_types:
            a = a.withColumn(c, F.lit(None).cast(t))
    for c, t in a_types.items():
        if c not in b_types:
            b = b.withColumn(c, F.lit(None).cast(t))
    return a, b.select(*a.columns)


# the Python type a key of each of these Spark types is collected as,
# and its manifest stats come back from JSON as (dates and timestamps
# come back as strings, so they are not here)
_DRIVER_KEY_TYPES = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int, "string": str,
}


def _batch_keys(
    spark: SparkSession, batch: DataFrame, keys: Sequence[str], meta: dict
) -> tuple[DataFrame, list | None]:
    """``batch``'s distinct non-null key tuples, collected in one Arrow
    job: as a local frame with the batch's key schema, which the
    touched-file resolve broadcasts, and as the sorted values of
    ``keys[0]`` the range prune bisects — ``None`` when the prune does
    not apply to the snapshot ``meta``. It needs a recorded schema and
    a ``keys[0]`` whose Spark type in the batch and in the table map to
    the same Python type in ``_DRIVER_KEY_TYPES``, so every manifest
    bound compares with every key; without it every file is a
    candidate."""
    key_df = batch.select(*keys)
    local = key_df.dropna().toArrow().group_by(list(keys)).aggregate([]).select(list(keys))
    frame = spark.createDataFrame(local, key_df.schema)
    if meta.get("schema") is None:
        return frame, None
    # the table's logical key type: the recorded schema under the
    # snapshot's renames, read off an empty frame (no job, no file)
    table = _apply_renames(
        spark.createDataFrame([], StructType.fromJson(meta["schema"])),
        meta.get("column_renames"),
    )
    kind = _DRIVER_KEY_TYPES.get(dict(batch.dtypes)[keys[0]])
    if kind is None or kind is not _DRIVER_KEY_TYPES.get(dict(table.dtypes).get(keys[0])):
        return frame, None
    return frame, sorted(set(local.column(keys[0]).to_pylist()))


def _range_hits(ranges, keys: list) -> set[str]:
    """Names among ``ranges`` — ``(name, lo, hi)`` rows of files or
    manifest shards — whose [lo, hi] holds at least one of the sorted
    ``keys``: a bisect per range. A range with a null bound (an
    all-null column) holds no key."""
    hits = set()
    for name, lo, hi in ranges:
        if lo is None or hi is None:
            continue
        i = bisect.bisect_left(keys, lo)
        if i < len(keys) and keys[i] <= hi:
            hits.add(name)
    return hits


def _files_holding(
    spark: SparkSession, path: str, files: Sequence[str], meta: dict, match,
    distinct: bool = True,
) -> list[str]:
    """The members of ``files`` (in their order) holding at least one
    row that ``match`` (a function of the logical-name scan) keeps,
    resolved with ``input_file_name`` — the driver only ever sees file
    names. ``distinct=False`` collects one name per matching row, with
    no shuffle, for a match known to keep few rows."""
    hits = match(_scan(spark, path, files, meta).withColumn("__file", F.input_file_name()))
    hits = hits.select("__file")
    names = {os.path.basename(r[0]) for r in (hits.distinct() if distinct else hits).collect()}
    return [f for f in files if os.path.basename(_entry_path(path, f)) in names]


def _touched_files(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    files: Sequence[str],
    fstats: dict,
    meta: dict,
    key_frame: DataFrame,
    prune_keys: list | None,
) -> tuple[list[str], int]:
    """The files among ``files`` holding at least one of the key tuples
    in ``key_frame``, and how many files were skipped without being
    opened (``_batch_keys`` gives both key arguments).

    With ``prune_keys``, a file whose manifest [min, max] of
    ``keys[0]`` holds none of them cannot be touched and is skipped; a
    file without stats is always a candidate. The candidates are then
    resolved exactly under logical names (a renamed KEY column still
    lives under its old physical name in pre-rename files) by one LEFT
    SEMI join against the broadcast key frame, collecting one file
    name per matching row."""
    col = keys[0]
    if prune_keys is None:
        candidates = list(files)
    else:
        hits = _range_hits(
            [(f, *fstats[f][col]) for f in files if col in fstats.get(f, {})], prune_keys
        )
        candidates = [f for f in files if f in hits or col not in fstats.get(f, {})]
    skipped = len(files) - len(candidates)
    if not candidates:
        return [], skipped
    touched = _files_holding(
        spark, path, candidates, meta,
        lambda df: df.join(F.broadcast(key_frame), list(keys), "left_semi"), distinct=False,
    )
    return touched, skipped


def _rewrite(
    path: str,
    parent: int,
    files: Sequence[str],
    fstats: dict,
    touched: Sequence[str],
    rows: DataFrame | None,
    op: str,
    stats: dict,
    required_cols: Sequence[str] = (),
    **commit_kw,
) -> dict:
    """The copy-on-write commit every rewrite shares: write ``rows``
    (``None``: nothing to write) as version ``parent + 1``, carry each
    of ``files`` not in ``touched`` by name with its stats entry, and
    commit against ``parent`` (``commit_kw`` passes ``txn``, ``extra``,
    ``carry_shards`` and ``delete_files`` through). New files get
    min/max stats for ``required_cols`` plus every range column of
    ``fstats`` that ``rows`` still carries (its Bloom entries excepted:
    a rewritten file carries none). A rewrite that carries no parent
    file records ``rows``' schema alone. Returns the version and the
    file counts, which the manifest records together with the op's
    ``stats``."""
    touched_set = set(touched)
    kept = [f for f in files if f not in touched_set]
    new_files: list[str] = []
    new_fstats: dict = {}
    if rows is not None:
        have = set(rows.columns)
        cols = dict.fromkeys(required_cols)
        for st in fstats.values():
            cols.update(dict.fromkeys(c for c in st or {} if c != _BLOOM_KEY and c in have))
        new_files, new_fstats = _write_data_files(rows, path, parent + 1, stats_cols=tuple(cols))
    counts = {
        "files_rewritten": len(touched),
        "files_kept": len(kept),
        "files_written": len(new_files),
        **stats,
    }
    version = _commit(
        path,
        kept + new_files,
        op,
        counts,
        file_stats={**{f: fstats[f] for f in kept if f in fstats}, **new_fstats},
        expect_parent=parent,
        schema=rows.schema if rows is not None else None,
        overwrite=not kept and not commit_kw.get("carry_shards"),
        **commit_kw,
    )
    return {"version": version, **counts}


def merge_files(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    order_col: str,
    txn: tuple[str, int] | None = None,
    extra: dict | None = None,
) -> dict:
    """File-granular copy-on-write MERGE (Delta's MERGE INTO shape):

    1. find the data files holding one of the batch's keys: collect the
       batch's distinct non-null key tuples once (``_batch_keys``, one
       Arrow job), SKIP every shard and file whose manifest [min, max]
       of ``keys[0]`` holds none of them (a bisect per range; the
       candidate scan never opens a skipped file), then resolve the
       exact touched files among the candidates with one LEFT SEMI
       join against the keys, broadcast as a local frame, naming them
       with ``input_file_name``;
    2. rewrite touched files merged with the batch (incoming wins, per
       ``apply_upsert``); pure inserts ride along in the same write;
    3. commit a manifest carrying every untouched file by name.

    One planner serves every merge: single or composite key, any batch
    size, inline or sharded manifest. The skip needs a recorded schema
    and a ``keys[0]`` of the same Python type in batch and table
    (``_DRIVER_KEY_TYPES``); otherwise every file is a candidate and
    the semi-join alone decides. The driver holds O(distinct batch
    keys); executor cost is O(touched files + batch). ``incoming``
    executes exactly once (one eager local checkpoint), so counters
    attached to it with ``DataFrame.observe`` see each batch row once.
    Returns observability stats including the new version number.
    """
    parent = current_version(path)
    if parent == 0:
        merged = upsert_latest(incoming, keys=keys, order_col=order_col)
        files, fstats = _write_data_files(merged, path, 1, stats_cols=(keys[0],))
        version = _commit(
            path, files, "merge", {"files_rewritten": 0, "files_kept": 0},
            file_stats=fstats, txn=txn, extra=extra, expect_parent=0, schema=merged.schema,
        )
        return {"version": version, "files_rewritten": 0, "files_kept": 0, "files_skipped": 0}

    pointer = read_manifest(path, parent, materialize=False)
    _require_no_pending_deletes(path, pointer, "merge_files")
    # the key collect and the rewrite both read the batch: materialize
    # it once instead of re-running a computed ``incoming`` (a whole
    # silver plan, on a sync) per read
    incoming = incoming.localCheckpoint(eager=True)
    key_frame, prune_keys = _batch_keys(spark, incoming, keys, pointer)
    if "shards" in pointer:
        files, fstats, touched, carried, stats = _plan_shards(
            spark, path, keys, pointer, key_frame, prune_keys
        )
    else:
        files, fstats = pointer["files"], pointer.get("file_stats", {})
        touched, skipped = _touched_files(
            spark, path, keys, files, fstats, pointer, key_frame, prune_keys
        )
        carried, stats = None, {"files_skipped": skipped}
    if touched:
        # schema evolution: a batch may add columns (old rows get NULL)
        # or omit columns (batch rows get NULL) — align both sides
        existing, batch = _align_schemas(_scan(spark, path, touched, pointer), incoming)
        rows = apply_upsert(existing, batch, keys=keys, order_col=order_col)
    else:
        rows = upsert_latest(incoming, keys=keys, order_col=order_col)
    return _rewrite(
        path, parent, files, fstats, touched, rows, "merge", stats,
        required_cols=(keys[0],), txn=txn, extra=extra, carry_shards=carried,
    )


def _plan_shards(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    pointer: dict,
    key_frame: DataFrame,
    prune_keys: list | None,
) -> tuple[list[str], dict, list[str], list[str], dict]:
    """Plan a MERGE against a SHARDED manifest without ever
    materializing the full file list (the Iceberg planning shape):

    1. shard pruning: the pointer's per-shard [lo, hi] ranges for the
       prune key are bisected against the batch's ``prune_keys``
       (``_range_hits``) — shards whose range can't contain any batch
       key are never OPENED, let alone their files;
    2. file pruning + touched discovery run over the surviving shards'
       entries only (the same ``_touched_files`` planner as the inline
       path);
    3. every pruned shard carries BY NAME, plus any loaded shard none
       of whose files were touched; only shards actually holding
       touched files dissolve into new shards.

    Returns the dissolved shards' entries (the files the rewrite
    carries or replaces), the loaded entries' stats, the touched
    files, the carried shards and the shard counts. Driver cost per
    sync: O(shard count + loaded-shard entries + touched files) —
    independent of total table file count.
    """
    prune_col = keys[0]
    shard_stats = pointer.get("shard_stats", {})
    all_shards = pointer["shards"]

    ranged = [
        (s, shard_stats[s]["cols"][prune_col][0], shard_stats[s]["cols"][prune_col][1])
        for s in all_shards
        if prune_col in shard_stats.get(s, {}).get("cols", {})
    ]
    if ranged and prune_keys is not None:
        hit = _range_hits(ranged, prune_keys)
        ranged_names = {r[0] for r in ranged}
        loaded_shards = sorted(hit) + [s for s in all_shards if s not in ranged_names]
    else:
        loaded_shards = list(all_shards)
    pruned_shards = [s for s in all_shards if s not in set(loaded_shards)]

    # entries of surviving shards only; remember each entry's shard so
    # untouched shards can still be carried whole
    entry_shard: dict[str, str] = {}
    fstats: dict[str, dict] = {}
    for s in loaded_shards:
        for e in _load_shard(path, s):
            entry_shard[e["name"]] = s
            if e.get("stats"):
                fstats[e["name"]] = e["stats"]

    touched, skipped = _touched_files(
        spark, path, keys, list(entry_shard), fstats, pointer, key_frame, prune_keys
    )
    dissolved = {entry_shard[f] for f in touched}
    carried = pruned_shards + [s for s in loaded_shards if s not in dissolved]
    files = [f for f, s in entry_shard.items() if s in dissolved]
    return files, fstats, touched, carried, {
        "files_skipped": skipped,
        "shards_pruned": len(pruned_shards),
        "shards_carried": len(carried),
        "shards_loaded": len(loaded_shards),
    }


def _key_range_prune(files: Sequence[str], fstats: dict, key_range) -> tuple[list[str], int]:
    """The deletes' ``key_range=(col, lo, hi)`` hint: the files whose
    manifest min/max for ``col`` can intersect [lo, hi] (a file without
    stats for ``col`` stays), and how many were skipped unopened. With
    no hint every file is scanned."""
    if key_range is None:
        return list(files), 0
    col, lo, hi = key_range
    scan_files = []
    for f in files:
        st = fstats.get(f, {}).get(col)
        if st is None or not (st[1] < lo or st[0] > hi):
            scan_files.append(f)
    return scan_files, len(files) - len(scan_files)


def delete_where(spark: SparkSession, path: str, predicate, key_range=None) -> dict:
    """Copy-on-write DELETE (the GDPR/retention op): rewrite only the
    files that contain matching rows, without them; every other file
    carries into the new manifest by name. ``predicate`` is a Column.
    Cost is O(matching files); readers of prior versions still see the
    deleted rows (time travel), which is exactly what makes the op
    auditable — ``vacuum`` is the point of actual disposal.

    ``key_range=(col, lo, hi)`` is the data-skipping hint for keyed
    deletes: files whose manifest min/max for ``col`` cannot intersect
    [lo, hi] are carried without even being OPENED for the match scan
    (the predicate itself stays authoritative for correctness — the
    hint must be a superset of the predicate's reach)."""
    parent, manifest = _head(path)
    _require_no_pending_deletes(path, manifest, "delete_where")
    files, fstats = manifest["files"], manifest.get("file_stats", {})
    scan_files, n_skipped = _key_range_prune(files, fstats, key_range)
    # logical names before the predicate: it may reference a renamed
    # column
    touched = (
        _files_holding(spark, path, scan_files, manifest, lambda df: df.filter(predicate))
        if scan_files
        else []
    )
    rows = _scan(spark, path, touched, manifest).filter(~predicate) if touched else None
    return _rewrite(
        path, parent, files, fstats, touched, rows, "delete", {"files_skipped": n_skipped}
    )


_DV_FILE_COL = "file_name"
_DV_POS_COL = "pos"


def _read_delete_files(spark: SparkSession, path: str, names: Sequence[str]) -> DataFrame:
    """Position-delete files ``names`` as (``file_name``, ``pos``) rows,
    read with the schema ``_write_delete_files`` always writes, so no
    read infers it from their footers."""
    return spark.read.schema(f"{_DV_FILE_COL} string, {_DV_POS_COL} bigint").parquet(
        *[_entry_path(path, d) for d in names]
    )


def _pending_delete_files(manifest: dict) -> list[str]:
    return list(manifest.get("delete_files", []))


def _require_no_pending_deletes(path: str, manifest: dict, op: str) -> None:
    """Ops that rewrite or diff RAW data files are unsound while
    merge-on-read deletion vectors are outstanding (a raw rewrite
    would resurrect deleted rows; a file-set diff would miss them).
    Mirrors Delta's rule that such commands materialize deletion
    vectors first."""
    if manifest.get("delete_files"):
        raise RuntimeError(
            f"{op} on {path!r} is blocked by pending merge-on-read deletes "
            f"({len(manifest['delete_files'])} deletion-vector file(s)); run "
            "apply_deletes() (orchestrator --action apply-deletes) to "
            "materialize them first"
        )


def _write_delete_files(matches: DataFrame, path: str, version: int) -> list[str]:
    """Materialize a position-delete DataFrame (``file_name``,
    ``pos``) as immutable parquet sidecar files in ``data/`` under a
    ``dv-`` prefix (Iceberg v2's position-delete files; Delta's
    deletion vectors). The shuffle to one task touches only MATCHED
    positions — the data scan that found them stays parallel. DVs are
    deletes-since-last-compaction-sized by design: a delete large
    enough to make this shuffle hurt belongs in the copy-on-write
    ``delete_where`` instead."""
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex[:12]}")
    matches.repartition(1).write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(path, _DATA)
    os.makedirs(data_dir, exist_ok=True)
    token = uuid.uuid4().hex[:8]
    names = []
    for i, f in enumerate(sorted(os.listdir(staging))):
        if not f.endswith(".parquet"):
            continue
        name = f"dv-v{version:06d}-{token}-{i:05d}.parquet"
        os.rename(os.path.join(staging, f), os.path.join(data_dir, name))
        names.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    return names


def _apply_delete_vectors(
    spark: SparkSession, path: str, df: DataFrame, delete_files: Sequence[str]
) -> DataFrame:
    """Filter ``df`` (a raw scan of manifest data files) through the
    snapshot's position-delete files: anti-join on (containing file
    basename, row index within the file). The DV side is broadcast —
    it is bounded by deletes since the last ``apply_deletes``
    compaction, and that compaction is exactly the pressure valve when
    it grows. Row positions come from the parquet reader's
    ``_metadata.row_index`` (stable per immutable file), so the writer
    (which recorded positions the same way) and every reader agree by
    construction."""
    dv = _read_delete_files(spark, path, delete_files).select(
        F.col(_DV_FILE_COL).alias("__dv_f"), F.col(_DV_POS_COL).alias("__dv_p")
    )
    return (
        df.withColumn(
            "__f", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        )
        .withColumn("__p", F.col("_metadata.row_index"))
        .join(
            F.broadcast(dv),
            (F.col("__f") == F.col("__dv_f")) & (F.col("__p") == F.col("__dv_p")),
            "left_anti",
        )
        .drop("__f", "__p")
    )


def delete_where_mor(spark: SparkSession, path: str, predicate, key_range=None) -> dict:
    """Merge-on-read DELETE (Iceberg v2 position deletes / Delta
    deletion vectors): instead of rewriting every touched data file
    (``delete_where``'s copy-on-write), record the deleted rows'
    (file, position) pairs in a parquet sidecar and carry EVERY data
    file into the new manifest by name. Readers apply the vectors as
    a broadcast anti-join (``read_version``); ``apply_deletes`` later
    materializes them in one compaction pass.

    This is the right half of the write-amplification trade: a
    scattered small delete (GDPR erasure of a few keys across a
    thousand 1 GB files) costs O(matched rows) here vs O(matched
    FILES) rewritten under copy-on-write — at 100 TB that is MBs
    instead of TBs of write. The read tax is one broadcast anti-join
    until compaction. Deletes stack: positions already recorded by an
    earlier vector are excluded, so each sidecar holds only NEW
    deletes and ``dv_rows_added`` is exact.

    ``key_range=(col, lo, hi)`` prunes the match scan with manifest
    min/max stats exactly as in ``delete_where``."""
    parent, manifest = _head(path)
    parent_files = manifest["files"]
    parent_fstats = manifest.get("file_stats", {})
    parent_dvs = _pending_delete_files(manifest)

    scan_files, skipped = _key_range_prune(parent_files, parent_fstats, key_range)

    n_added = 0
    new_dvs: list[str] = []
    if scan_files:
        # logical names before the predicate (renamed columns); the
        # _metadata projection still resolves through the rename
        # projections (exercised in tests/test_versioned.py)
        matches = (
            _scan(spark, path, scan_files, manifest)
            .filter(predicate)
            .select(
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                    _DV_FILE_COL
                ),
                F.col("_metadata.row_index").alias(_DV_POS_COL),
            )
        )
        if parent_dvs:
            prior = _read_delete_files(spark, path, parent_dvs)
            matches = matches.join(
                F.broadcast(prior), [_DV_FILE_COL, _DV_POS_COL], "left_anti"
            )
        new_dvs = _write_delete_files(matches, path, parent + 1)
        if new_dvs:
            n_added = _read_delete_files(spark, path, new_dvs).count()
            if n_added == 0:
                for d in new_dvs:
                    os.remove(_entry_path(path, d))
                new_dvs = []
    version = _commit(
        path,
        list(parent_files),
        "delete-mor",
        {
            "files_rewritten": 0,
            "files_kept": len(parent_files),
            "files_skipped": skipped,
            "dv_files_added": len(new_dvs),
            "dv_rows_added": n_added,
        },
        file_stats=parent_fstats,
        expect_parent=parent,
        delete_files=parent_dvs + new_dvs,
    )
    return {
        "version": version,
        "files_rewritten": 0,
        "dv_files_added": len(new_dvs),
        "dv_rows_added": n_added,
    }


def apply_deletes(spark: SparkSession, path: str, stats_cols: Sequence[str] = ()) -> dict:
    """Materialize pending merge-on-read deletion vectors: rewrite
    ONLY the data files that actually carry deleted positions (anti-
    joined against the vectors), carry every untouched file by name,
    and commit a snapshot with no ``delete_files`` — after which every
    blocked raw-file op (merge, CDC, optimize, clone) is sound again
    and ``vacuum`` reclaims the sidecars. The MoR analogue of Delta's
    REORG TABLE ... APPLY (PURGE); cost is O(files with deletes +
    vector rows), never O(table). ``stats_cols`` join the parent's
    range columns on the rewritten files."""
    parent, manifest = _head(path)
    dvs = _pending_delete_files(manifest)
    if not dvs:
        return {"version": parent, "files_rewritten": 0, "dv_files_applied": 0}
    files, fstats = manifest["files"], manifest.get("file_stats", {})
    dv_df = _read_delete_files(spark, path, dvs)
    touched_base = {r[0] for r in dv_df.select(_DV_FILE_COL).distinct().collect()}
    by_base = {os.path.basename(_entry_path(path, f)): f for f in files}
    touched = [by_base[b] for b in sorted(touched_base) if b in by_base]
    # logical names on the rewrite: compaction doubles as the physical
    # migration point for metadata-only renames
    rows = (
        _scan(spark, path, touched, manifest, dvs) if touched else None
    )
    return _rewrite(
        path, parent, files, fstats, touched, rows, "apply-deletes",
        {"dv_files_applied": len(dvs)}, required_cols=stats_cols, delete_files=(),
    )


def delete_matching(
    spark: SparkSession, path: str, match_df: DataFrame, keys: Sequence[str]
) -> dict:
    """Copy-on-write DELETE driven by a DataFrame of keys (round 5):
    the set-oriented sibling of ``delete_where`` for when the doomed
    keys are themselves the output of a computation (CDC deletes,
    GDPR erasure lists). Touched files are found by the merge's
    planner (``_batch_keys`` collects the distinct key tuples once,
    ``_touched_files`` prunes on ``keys[0]`` and resolves with a LEFT
    SEMI join), survivors by a LEFT ANTI join against the same
    broadcast key frame — the keys are never inlined into a predicate,
    which would grow the expression tree with the key count."""
    parent, manifest = _head(path)
    _require_no_pending_deletes(path, manifest, "delete_matching")
    files, fstats = manifest["files"], manifest.get("file_stats", {})
    key_frame, prune_keys = _batch_keys(spark, match_df, keys, manifest)
    touched, skipped = _touched_files(
        spark, path, keys, files, fstats, manifest, key_frame, prune_keys
    )
    rows = (
        _scan(spark, path, touched, manifest).join(
            F.broadcast(key_frame), list(keys), "left_anti"
        )
        if touched
        else None
    )
    return _rewrite(
        path, parent, files, fstats, touched, rows, "delete", {"files_skipped": skipped}
    )


def changes_between(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    from_version: int,
    to_version: int,
    with_values: bool = False,
    ignore_cols: Sequence[str] = (),
) -> DataFrame:
    """CDC change feed between two snapshots: one row per changed key
    with ``change_type`` insert/update/delete.

    Manifest-aware: files present in BOTH manifests are identical by
    construction (data files are immutable) and contribute a change
    ONLY through the deletion-vector delta — only each side's
    exclusive files plus the rows named by new/undone vector positions
    are read and joined, so the diff costs O(changed files + DV rows),
    not O(table). The join is a full-outer on the keys with null-safe
    column comparison deciding update-vs-identical (a MERGE that
    rewrote a row byte-identically is NOT a change). Merge-on-read
    delete commits thus flow through the feed as 'delete' rows without
    compaction — the Delta CDF + deletion-vectors pairing."""
    ma, mb = read_manifest(path, from_version), read_manifest(path, to_version)
    # the feed speaks the TO side's logical schema (Delta CDF reads
    # with the latest schema): old-named physical columns from either
    # side fold into the destination's names
    cdc_renames = mb.get("column_renames") or []
    common = set(ma["files"]) & set(mb["files"])
    a_only = [f for f in ma["files"] if f not in common]
    b_only = [f for f in mb["files"] if f not in common]
    dva_files = _pending_delete_files(ma)
    dvb_files = _pending_delete_files(mb)

    def _side(files, m, template_version, dv_files):
        if files:
            # that side's visibility, not its raw bytes: rows its
            # deletion vectors cover were never part of the snapshot
            # (its own schema, as ``_scan`` explains: a sampled footer
            # schema would fabricate spurious 'update' rows here)
            meta = {"schema": m.get("schema"), "column_renames": cdc_renames}
            return _scan(spark, path, files, meta, dv_files)
        return _apply_renames(
            read_version(spark, path, template_version).limit(0), cdc_renames
        )

    a = _side(a_only, ma, from_version, dva_files)
    b = _side(b_only, mb, to_version, dvb_files)

    if dva_files or dvb_files:
        # merge-on-read CDC: on files COMMON to both manifests the bytes
        # are identical, so the only visibility change is the deletion-
        # vector delta. Positions in (dvB - dvA) were visible at
        # from_version and are not at to_version -> the row joins the
        # 'from' side (a 'delete' in the feed); positions in (dvA - dvB)
        # — possible after a rollback across a compaction — re-appear ->
        # the 'to' side (an 'insert'). Cost stays O(changed files + DV
        # rows): only common files actually named by delta positions are
        # re-opened, discovered from the (DV-sized) delta itself.
        def _dv_positions(dv_files):
            if not dv_files:
                return None
            return _read_delete_files(spark, path, dv_files)

        dva = _dv_positions(dva_files)
        dvb = _dv_positions(dvb_files)

        def _delta(x, y):
            if x is None:
                return None
            if y is None:
                return x
            return x.join(F.broadcast(y), [_DV_FILE_COL, _DV_POS_COL], "left_anti")

        common_base = {os.path.basename(_entry_path(path, f)): f for f in common}

        def _rows_at(positions):
            if positions is None:
                return None
            hit_files = [
                common_base[r[0]]
                for r in positions.select(_DV_FILE_COL).distinct().collect()
                if r[0] in common_base
            ]
            if not hit_files:
                return None
            scan = spark.read.option("mergeSchema", "true").parquet(
                *[_entry_path(path, f) for f in hit_files]
            )
            # _metadata is resolved on the raw scan FIRST; renames are
            # plain projections applied after the position semi-join
            return _apply_renames(
                scan.withColumn(
                    "__f",
                    F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
                )
                .withColumn("__p", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(
                        positions.select(
                            F.col(_DV_FILE_COL).alias("__f"),
                            F.col(_DV_POS_COL).alias("__p"),
                        )
                    ),
                    ["__f", "__p"],
                    "left_semi",
                )
                .drop("__f", "__p"),
                cdc_renames,
            )

        newly_deleted = _rows_at(_delta(dvb, dva))
        if newly_deleted is not None:
            a = a.unionByName(newly_deleted, allowMissingColumns=True)
        undeleted = _rows_at(_delta(dva, dvb))
        if undeleted is not None:
            b = b.unionByName(undeleted, allowMissingColumns=True)
    a, b = _align_schemas(a, b)  # diff across a schema-evolution commit
    # ignore_cols: audit/watermark columns (last_sync, _ingested_at)
    # whose refresh should not register as a content change
    cols = [c for c in b.columns if c not in keys and c not in set(ignore_cols)]
    a_pref = a.select(
        *[F.col(k) for k in keys],
        F.lit(1).alias("__in_a"),
        *[F.col(c).alias(f"__a_{c}") for c in cols],
    )
    b_pref = b.select(
        *[F.col(k) for k in keys],
        F.lit(1).alias("__in_b"),
        *[F.col(c).alias(f"__b_{c}") for c in cols],
    )
    joined = a_pref.join(b_pref, list(keys), "full_outer")
    # map columns are not comparable in Spark (<=> rejects MapType) —
    # compare their canonical JSON rendering instead; arrays/structs
    # compare natively
    b_types = dict(b.dtypes)
    differs = F.lit(False)
    for c in cols:
        if b_types.get(c, "").startswith("map<"):
            differs = differs | ~F.to_json(F.col(f"__a_{c}")).eqNullSafe(
                F.to_json(F.col(f"__b_{c}"))
            )
        else:
            differs = differs | ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
    change = (
        F.when(F.col("__in_a").isNull(), "insert")
        .when(F.col("__in_b").isNull(), "delete")
        .when(differs, "update")
    )
    out = joined.withColumn("change_type", change).filter(F.col("change_type").isNotNull())
    if with_values:
        # old_/new_ value columns power downstream consumers that need
        # the payload, e.g. incremental rollup maintenance (+new-old)
        return out.select(
            *keys,
            "change_type",
            *[F.col(f"__a_{c}").alias(f"old_{c}") for c in cols],
            *[F.col(f"__b_{c}").alias(f"new_{c}") for c in cols],
        )
    return out.select(*keys, "change_type")


def rollback(path: str, to_version: int) -> int:
    """Restore an earlier snapshot as a NEW commit (never rewinds the
    log — an audit-safe undo). Zero data movement: the new manifest
    simply references the old version's files."""
    old = read_manifest(path, to_version)
    # a sharded target is restored from its own shards: the head's
    # shards may hold the same files under re-keyed stats (a rename)
    shards = old.get("shards")
    return _commit(
        path,
        [] if shards else old["files"],
        f"rollback(v{to_version})",
        {"restored": to_version},
        carry_shards=shards,
        file_stats=old.get("file_stats", {}),
        # restore the target's MoR state too — its pending deletion
        # vectors are part of what "the table at v{N}" means
        delete_files=old.get("delete_files", []),
        # ...and its rename state and schema: "the table at v{N}"
        # includes the logical schema readers saw then
        extra={
            "column_renames": old.get("column_renames", []),
            "schema": old.get("schema"),
        },
    )


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> int:
    """Metadata-only column RENAME (Iceberg-style schema evolution —
    the verb ``versioned_schema_evolution``'s widening MERGE doesn't
    cover): commit a new snapshot that carries every data file forward
    UNTOUCHED and records the mapping; readers fold old-named physical
    columns into the logical name at scan time (``_apply_renames``).
    O(metadata) at any table size — a 100 TB rename is one manifest
    write. Compaction (``apply_deletes``/``optimize``) migrates files
    to the new physical name as a side effect of its rewrites.

    Carried per-file stats (and the Bloom's column tag) are re-keyed to
    the logical name so data skipping stays tight across the rename."""
    parent, m = _head(path)
    cols = read_version(spark, path, parent).columns
    if old not in cols:
        raise ValueError(f"column {old!r} does not exist in {path!r} (have {cols})")
    if new in cols:
        raise ValueError(f"column {new!r} already exists in {path!r}")
    renames = list(m.get("column_renames") or [])
    renames.append({"from": old, "to": new})
    fstats = {}
    for f, st in (m.get("file_stats") or {}).items():
        st2 = dict(st)
        if old in st2:
            st2[new] = st2.pop(old)
        bl = st2.get(_BLOOM_KEY)
        if isinstance(bl, dict) and bl.get("col") == old:
            st2[_BLOOM_KEY] = {**bl, "col": new}
        fstats[f] = st2
    return _commit(
        path,
        m["files"],
        f"rename-column({old}->{new})",
        {"renamed_from": old, "renamed_to": new},
        file_stats=fstats,
        extra={"column_renames": renames},
        expect_parent=parent,
        # re-keyed stats: a sharded manifest writes new shards instead
        # of reusing the parent's by name
        carry_shards=[] if "shards" in m else None,
    )


def drop_column(spark: SparkSession, path: str, col: str) -> int:
    """Metadata-only DROP COLUMN — the GDPR column-erasure verb: one
    manifest commit makes the column invisible to every reader
    immediately (the overlay entry ``{"from": col, "to": None}`` rides
    the same read-time machinery as renames); the physical bytes
    disappear at the next compaction/OPTIMIZE rewrite, exactly Delta's
    drop-then-vacuum contract. Carried per-file stats for the column
    are removed so no skipping decision ever references it.

    Caveat (documented, Iceberg solves it with field IDs): re-adding a
    column with the SAME name later requires a compaction first —
    otherwise the drop overlay would hide the new column too;
    ``merge_files`` inputs that reintroduce the name raise in
    ``_align_schemas``-land by colliding with the overlay (pytest
    pins the supported paths)."""
    parent, m = _head(path)
    cols = read_version(spark, path, parent).columns
    if col not in cols:
        raise ValueError(f"column {col!r} does not exist in {path!r} (have {cols})")
    renames = list(m.get("column_renames") or [])
    renames.append({"from": col, "to": None})
    fstats = {}
    for f, st in (m.get("file_stats") or {}).items():
        st2 = {k: v for k, v in st.items() if k != col}
        bl = st2.get(_BLOOM_KEY)
        if isinstance(bl, dict) and bl.get("col") == col:
            st2.pop(_BLOOM_KEY)
        fstats[f] = st2
    return _commit(
        path,
        m["files"],
        f"drop-column({col})",
        {"dropped": col},
        file_stats=fstats,
        extra={"column_renames": renames},
        expect_parent=parent,
        # re-keyed stats: a sharded manifest writes new shards instead
        # of reusing the parent's by name
        carry_shards=[] if "shards" in m else None,
    )


def orphan_report(
    path: str, keep_last: int = 2, min_age_seconds: float = 6 * 3600
) -> dict:
    """The DETECTION half of snapshot expiry (vacuum's audit
    complement): classify every parquet file in ``data/`` without
    deleting anything.

    Classes:
    - ``head``: referenced by the head manifest (live for readers);
    - ``retained``: referenced only by a retained non-head manifest
      (time-travel reachable under ``keep_last``);
    - ``expired``: referenced only by manifests OLDER than the
      retention horizon — the next ``vacuum(keep_last)`` reclaims
      them;
    - ``orphan``: referenced by NO existing manifest at all AND older
      than ``min_age_seconds``. These are the files a
      reference-walking GC can never name: a crashed writer that
      moved staged files into ``data/`` but died before its manifest
      commit published. They are invisible to every reader and to
      time travel; only a disk-vs-manifest sweep surfaces them.
    - ``in_flight``: unreferenced but YOUNGER than the age window —
      possibly a live writer mid-commit (``merge_files`` stages into
      ``data/`` before its manifest publishes). Reporting these as
      orphans would invite deleting an about-to-be-committed file (a
      torn table — the same race vacuum's ``min_age_seconds``
      guards); pass ``min_age_seconds=0`` only with exclusive access.

    Cost: O(existing manifests + files on disk) driver-side manifest
    arithmetic plus one directory listing — no data file is opened.
    At 100 TB this is the same ledger walk every lakehouse
    maintenance job does (Iceberg's orphan-file removal, Delta's vacuum
    audit); the listing, not the data, is the unit of work."""
    head = current_version(path)
    keep_from = max(1, head - keep_last + 1)
    data_dir = os.path.join(path, _DATA)
    abs_data = os.path.abspath(data_dir)

    def _refs(v: int) -> set[str]:
        m = read_manifest(path, v)
        names = set()
        for f in list(m["files"]) + list(m.get("delete_files", [])):
            p = _entry_path(path, f)
            # only files physically in THIS table's data dir count —
            # a shallow clone's absolute-path entries into the source
            # table are the source's to audit
            if os.path.dirname(os.path.abspath(p)) == abs_data:
                names.add(os.path.basename(p))
        return names

    head_refs = _refs(head) if head else set()
    retained_refs: set[str] = set()
    # a retained-range manifest can be MISSING (an earlier vacuum ran
    # with a smaller keep_last) — skip it like the historic loop does,
    # never crash the audit; head excluded (already read above)
    for v in range(keep_from, head):
        if os.path.exists(_manifest_path(path, v)):
            retained_refs |= _refs(v)
    historic_refs: set[str] = set()
    for v in range(1, keep_from):
        if os.path.exists(_manifest_path(path, v)):
            historic_refs |= _refs(v)
    import time as _time

    cutoff = _time.time() - min_age_seconds
    on_disk = sorted(
        f
        for f in (os.listdir(data_dir) if os.path.isdir(data_dir) else [])
        if f.endswith(".parquet")
    )
    classes: dict[str, str] = {}
    for f in on_disk:
        if f in head_refs:
            classes[f] = "head"
        elif f in retained_refs:
            classes[f] = "retained"
        elif f in historic_refs:
            classes[f] = "expired"
        else:
            # TOCTOU guard (round-8 ADVICE): a concurrent vacuum/writer
            # can delete the file between the listdir above and this
            # stat — a vanished file is by definition no longer on disk,
            # so skip it rather than crash a live-table audit
            try:
                mtime = os.path.getmtime(os.path.join(data_dir, f))
            except FileNotFoundError:
                continue
            if min_age_seconds > 0 and mtime > cutoff:
                classes[f] = "in_flight"
            else:
                classes[f] = "orphan"
    counts = {
        c: sum(1 for x in classes.values() if x == c)
        for c in ("head", "retained", "expired", "orphan", "in_flight")
    }
    return {
        "n_on_disk": len(on_disk),
        "counts": counts,
        "classes": classes,
        "orphans": sorted(f for f, c in classes.items() if c == "orphan"),
        "retained_from": keep_from,
    }


def vacuum(
    path: str,
    keep_last: int = 2,
    dry_run: bool = False,
    min_age_seconds: float = 6 * 3600,
) -> dict:
    """Reclaim data files referenced by no retained snapshot. Retains
    the last ``keep_last`` manifests (older manifests are dropped too,
    which bounds time travel — the retention/GC trade every commit-log
    store makes). Crash-safe: deleting an unreferenced file can never
    affect a retained reader.

    ``min_age_seconds`` is the Delta-style retention window against
    IN-FLIGHT writers (round-4 ADVICE): ``merge_files`` moves staged
    files into ``data/`` BEFORE its manifest commit publishes them, so
    with no age floor a concurrent vacuum could delete an
    about-to-be-committed file and the subsequent commit would publish
    a manifest naming missing files — a torn table. Only files whose
    mtime is older than the window are eligible; size the window above
    the longest plausible write (pass ``0`` only with exclusive access,
    e.g. single-writer tests)."""
    import time as _time

    head = current_version(path)
    keep_from = max(1, head - keep_last + 1)
    live: set[str] = set()
    for v in range(keep_from, head + 1):
        m = read_manifest(path, v)
        live.update(m["files"])
        # merge-on-read position-delete sidecars are part of the
        # snapshot: deleting one would RESURRECT its deleted rows for
        # every retained reader
        live.update(m.get("delete_files", []))
    data_dir = os.path.join(path, _DATA)
    removed = 0
    skipped_young = 0
    cutoff = _time.time() - min_age_seconds
    for f in os.listdir(data_dir) if os.path.isdir(data_dir) else []:
        if f.endswith(".parquet") and f not in live:
            if min_age_seconds > 0 and os.path.getmtime(os.path.join(data_dir, f)) > cutoff:
                skipped_young += 1  # possibly mid-commit — retained
                continue
            if not dry_run:
                os.remove(os.path.join(data_dir, f))
            removed += 1
    manifests_removed = 0
    for v in range(1, keep_from):
        p = _manifest_path(path, v)
        if os.path.exists(p):
            if not dry_run:
                os.remove(p)
            manifests_removed += 1
    # shard GC: a shard file is live iff some still-existing manifest
    # references it (reuse means retained snapshots may point at
    # shards first written by an expired one — those must survive).
    # Orphans from crashed commits are caught here too; min_age
    # protects shards of an in-flight commit whose pointer hasn't
    # linked yet.
    mdir = _manifest_dir(path)
    live_shards: set[str] = set()
    for v in range(keep_from, head + 1):
        if os.path.exists(_manifest_path(path, v)):
            live_shards.update(read_manifest(path, v, materialize=False).get("shards", []))
    shards_removed = 0
    for f in os.listdir(mdir) if os.path.isdir(mdir) else []:
        if f.startswith("m-") and f.endswith(".json") and f not in live_shards:
            if min_age_seconds > 0 and os.path.getmtime(os.path.join(mdir, f)) > cutoff:
                skipped_young += 1
                continue
            if not dry_run:
                os.remove(os.path.join(mdir, f))
            shards_removed += 1
    return {
        "data_files_removed": removed,
        "manifests_removed": manifests_removed,
        "manifest_shards_removed": shards_removed,
        "files_skipped_young": skipped_young,
        "retained_from": keep_from,
        "dry_run": dry_run,
    }


from pim_etl_spark.catalog import query  # noqa: E402
from pim_etl_spark.sources import load_table  # noqa: E402
from pim_etl_spark.tuning import sorted_output


@query(
    "gold_time_travel_diff",
    oracle="""
    -- closed-form twin of the versioned-store lifecycle: v1 = pre-1998
    -- orders; v2 = MERGE (post-1998 inserts + doubled price for
    -- pre-1998 keys divisible by 7); v3 = rollback to v1. The store's
    -- per-version (rows, sum) must equal this pure arithmetic.
    WITH scoped AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      WHERE o_orderkey % 4 = 1
    ),
    v1 AS (
      SELECT o_orderkey, o_totalprice FROM scoped
      WHERE o_orderdate < DATE '1998-01-01'
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderdate < DATE '1998-01-01' AND o_orderkey % 7 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS p
      FROM scoped
    )
    SELECT CAST(1 AS INT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS total_price
    FROM v1
    UNION ALL
    SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT), round(sum(p), 2) FROM v2
    UNION ALL
    SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
           round(sum(o_totalprice), 2)
    FROM v1
    ORDER BY version
    """,
)
def gold_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle proof of the manifest-versioned store under the hash
    gate: bootstrap a snapshot from pre-1998 orders, MERGE a batch
    (inserts + updates) as v2, roll back to v1 as v3 — then time-travel
    read every version and emit (rows, price sum) per version. The
    oracle recomputes all three states closed-form from the orders
    table, so a torn merge, a file carried wrongly, or a rollback that
    rewinds instead of re-committing all hash-mismatch.

    The per-version stats are collected driver-side (3 rows —
    model-sized) because the store lives in a run-scoped temp dir that
    is deleted before return; everything data-sized stays distributed.
    """
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .filter(F.col("o_orderkey") % 4 == 1)  # deterministic quarter:
        # the entry proves lifecycle semantics, not write throughput
    )
    tbl = tempfile.mkdtemp(prefix="pim-vstore-")
    try:
        pre = orders.filter(F.col("o_orderdate") < "1998-01-01")
        v1 = pre.select(
            "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(4, "o_orderkey")
        commit_snapshot(v1, tbl, op="bootstrap")

        inserts = orders.filter(F.col("o_orderdate") >= "1998-01-01").select(
            "o_orderkey", "o_totalprice", F.lit(2).cast("long").alias("version")
        )
        updates = pre.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("version"),
        )
        merge_files(
            spark, tbl, inserts.unionByName(updates), keys=["o_orderkey"], order_col="version"
        )
        rollback(tbl, to_version=1)

        rows = []
        for v in (1, 2, 3):
            stats = (
                read_version(spark, tbl, v)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("o_totalprice"), 2).alias("s"),
                )
                .collect()[0]
            )
            rows.append((v, stats["n"], float(stats["s"])))
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version int, n_rows bigint, total_price double"
    ).transform(sorted_output, "version")


@query(
    "gold_change_feed",
    oracle="""
    -- closed-form twin of the CDC feed over the versioned store:
    -- v1 = pre-1998 orders; v2 = MERGE (post-1998 inserts + doubled
    -- price for keys % 7 = 0); v3 = copy-on-write DELETE of keys
    -- % 5 = 0. Every (from,to,type) count is pure arithmetic.
    WITH base AS (SELECT o_orderkey, o_orderdate FROM orders
                  WHERE o_orderkey % 4 = 1)
    SELECT CAST(1 AS INT) AS from_v, CAST(2 AS INT) AS to_v,
           'insert' AS change_type, CAST(count(*) AS BIGINT) AS n_keys
    FROM base WHERE o_orderdate >= DATE '1998-01-01'
    UNION ALL
    SELECT CAST(1 AS INT), CAST(2 AS INT), 'update', CAST(count(*) AS BIGINT)
    FROM base WHERE o_orderdate < DATE '1998-01-01' AND o_orderkey % 7 = 0
    UNION ALL
    SELECT CAST(2 AS INT), CAST(3 AS INT), 'delete', CAST(count(*) AS BIGINT)
    FROM base WHERE o_orderkey % 5 = 0
    ORDER BY from_v, change_type
    """,
)
def gold_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change feed under the hash gate: run the full lifecycle
    (bootstrap → file-granular MERGE → copy-on-write DELETE) on a
    run-scoped store, then diff consecutive snapshots with
    ``changes_between``. The manifest-aware diff reads only each
    side's exclusive files; rewritten-but-identical rows must NOT
    surface as updates (null-safe column compare), which the oracle's
    exact counts enforce — a whole-file rewrite that leaked unchanged
    rows into the feed would overshoot 'update' immediately."""
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .filter(F.col("o_orderkey") % 4 == 1)  # see gold_time_travel_diff
    )
    tbl = tempfile.mkdtemp(prefix="pim-cdc-")
    try:
        pre = orders.filter(F.col("o_orderdate") < "1998-01-01")
        v1 = pre.select(
            "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(4, "o_orderkey")
        commit_snapshot(v1, tbl, op="bootstrap", stats_cols=("o_orderkey",))

        inserts = orders.filter(F.col("o_orderdate") >= "1998-01-01").select(
            "o_orderkey", "o_totalprice", F.lit(2).cast("long").alias("version")
        )
        updates = pre.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("version"),
        )
        merge_files(
            spark, tbl, inserts.unionByName(updates), keys=["o_orderkey"], order_col="version"
        )
        delete_where(spark, tbl, F.col("o_orderkey") % 5 == 0)

        rows = []
        for from_v, to_v in ((1, 2), (2, 3)):
            for r in (
                changes_between(spark, tbl, ["o_orderkey"], from_v, to_v)
                .groupBy("change_type")
                .agg(F.count(F.lit(1)).alias("n_keys"))
                .collect()
            ):
                rows.append((from_v, to_v, r["change_type"], r["n_keys"]))
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows, "from_v int, to_v int, change_type string, n_keys bigint"
    ).transform(sorted_output, "from_v", "change_type")


@query(
    "gold_bucketed_sync",
    oracle="""
    -- closed-form twin of the bucketed-gold repeat sync: bootstrap =
    -- pre-1998 orders; sync 2 MERGEs post-1998 inserts + doubled
    -- price for pre-1998 keys divisible by 7 (same arithmetic as
    -- gold_time_travel_diff's v2). no_exchange_merge pins the plan
    -- property the bucketing exists for: the second sync's merge must
    -- contain ZERO Exchange nodes (the table side reads pre-clustered).
    WITH scoped AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      WHERE o_orderkey % 4 = 1
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderdate < DATE '1998-01-01' AND o_orderkey % 7 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS p
      FROM scoped
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(p), 2) AS total_price,
           TRUE AS no_exchange_merge
    FROM v2
    """,
)
def gold_bucketed_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-gold repeat sync under the hash gate (VERDICT r4 #3):
    bootstrap a gold table bucketed by product key, run a second sync
    (inserts + updates) through the join-based bucketed MERGE, and
    emit the final state's (rows, price sum) PLUS the plan property —
    the merge plan must hold zero Exchange nodes, because both sides
    read pre-clustered on the merge keys. The oracle recomputes the
    final state closed-form and asserts the no-shuffle flag, so a
    layout regression (bucketing dropped, union+window fallback, an
    EnsureRequirements exchange sneaking back) is a hash mismatch, not
    just a slower benchmark."""
    import tempfile

    from pim_etl_spark.pipeline.gold import sync_bucketed_gold

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .filter(F.col("o_orderkey") % 4 == 1)  # see gold_time_travel_diff
    )
    tbl = f"gold_bsync_{uuid.uuid4().hex[:8]}"
    base = tempfile.mkdtemp(prefix="pim-bsync-")
    try:
        pre = orders.filter(F.col("o_orderdate") < "1998-01-01")
        boot = pre.select(
            "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("version")
        )
        sync_bucketed_gold(
            spark, tbl, boot, keys=["o_orderkey"], order_col="version",
            base_dir=base, n_buckets=8,
        )
        batch = (
            orders.filter(F.col("o_orderdate") >= "1998-01-01")
            .select("o_orderkey", "o_totalprice", F.lit(2).cast("long").alias("version"))
            .unionByName(
                pre.filter(F.col("o_orderkey") % 7 == 0).select(
                    "o_orderkey",
                    (F.col("o_totalprice") * 2).alias("o_totalprice"),
                    F.lit(2).cast("long").alias("version"),
                )
            )
        )
        res = sync_bucketed_gold(
            spark, tbl, batch, keys=["o_orderkey"], order_col="version",
            base_dir=base, n_buckets=8,
        )
        no_exchange = "Exchange" not in res["merged_plan"]
        stats = (
            spark.table(tbl)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("s"),
            )
            .collect()[0]
        )
        rows = [(stats["n"], float(stats["s"]), no_exchange)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows, "n_rows bigint, total_price double, no_exchange_merge boolean"
    )


def last_txn_version(path: str, app_id: str) -> int:
    """Highest transaction version committed by ``app_id``; -1 if none.
    The replay guard for exactly-once streaming sinks."""
    v = current_version(path)
    if v == 0:
        return -1
    return int(read_manifest(path, v).get("txn", {}).get(app_id, -1))


def merge_files_txn(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    order_col: str,
    app_id: str,
    txn_version: int,
) -> dict:
    """Idempotent transactional MERGE: if ``txn_version`` was already
    committed by ``app_id`` (micro-batch replay after a sink failure,
    restarted query re-delivering the last batch), the call is a
    NO-OP — the foundation of exactly-once ``foreachBatch`` sinks.
    Otherwise a normal ``merge_files`` whose commit atomically records
    the (app_id, txn_version) watermark WITH the data — replay and
    data can never disagree."""
    if txn_version <= last_txn_version(path, app_id):
        return {
            "version": current_version(path),
            "skipped_replay": True,
            "files_rewritten": 0,
            "files_kept": 0,
        }
    result = merge_files(spark, path, incoming, keys=keys, order_col=order_col, txn=(app_id, txn_version))
    result["skipped_replay"] = False
    return result


def incremental_rollup_update(
    rollup: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Incremental materialized-view maintenance: fold a CDC feed
    (``changes_between(..., with_values=True)``) into an existing
    additive rollup WITHOUT rescanning the base table.

    Each change row contributes delta rows: an insert adds its new
    values under the new group; a delete subtracts its old values
    under the old group; an update does both — which also handles
    GROUP MIGRATION (an update that moves a row between groups) with
    no special case. The delta aggregate is O(changes); the final
    combine is a union + re-aggregate over (groups present in the
    delta) — at 100 TB this is the difference between maintaining a
    dashboard per sync and re-scanning the lake per sync. Only works
    for additive measures (count/sum); min/max need a re-scan of the
    affected groups.
    """
    minus = [
        F.struct(
            *[F.col(f"old_{g}").alias(g) for g in group_cols],
            F.lit(-1).cast("long").alias("__cnt"),
            *[(-F.coalesce(F.col(f"old_{m}"), F.lit(0))).alias(m) for m in sum_cols],
        )
    ]
    plus = [
        F.struct(
            *[F.col(f"new_{g}").alias(g) for g in group_cols],
            F.lit(1).cast("long").alias("__cnt"),
            *[F.coalesce(F.col(f"new_{m}"), F.lit(0)).alias(m) for m in sum_cols],
        )
    ]
    contributions = (
        F.when(F.col("change_type") == "insert", F.array(*plus))
        .when(F.col("change_type") == "delete", F.array(*minus))
        .otherwise(F.array(*plus, *minus))
    )
    delta = (
        changes.select(F.explode(contributions).alias("c"))
        .select("c.*")
        .groupBy(*group_cols)
        .agg(
            F.sum("__cnt").alias(count_col),
            *[F.sum(m).alias(m) for m in sum_cols],
        )
    )
    combined = rollup.unionByName(delta)
    return (
        combined.groupBy(*group_cols)
        .agg(
            F.sum(count_col).cast("long").alias(count_col),
            *[F.sum(m).alias(m) for m in sum_cols],
        )
        .filter(F.col(count_col) > 0)
    )


def incremental_rollup_update_with_minmax(
    rollup: DataFrame,
    changes: DataFrame,
    base_now: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    minmax_col: str,
    count_col: str = "n_rows",
) -> DataFrame:
    """IVM extended to NON-additive measures (round 5): counts/sums
    fold from the CDC delta as before (O(changes)); min/max cannot be
    maintained from deltas alone (deleting a group's minimum says
    nothing about the runner-up), so the AFFECTED groups — exactly
    those appearing on either side of the change feed, including both
    ends of a group migration — are re-aggregated from the current
    base, reached via a broadcast semi-join. Unaffected groups keep
    their stored min/max untouched.

    Cost per refresh: O(changes + rows of affected groups), never a
    full rescan — at 100 TB a sync touching 3 of 10⁶ groups re-reads
    those 3 groups' rows only (with the base clustered on the group
    key, that is a handful of files via data skipping).

    ``rollup`` must carry ``min_<col>`` / ``max_<col>`` columns;
    returns the same shape."""
    mn, mx = f"min_{minmax_col}", f"max_{minmax_col}"
    additive = incremental_rollup_update(
        rollup.drop(mn, mx), changes, group_cols=group_cols,
        sum_cols=sum_cols, count_col=count_col,
    )
    affected = (
        changes.select(
            F.explode(
                F.array(
                    F.struct(*[F.col(f"old_{g}").alias(g) for g in group_cols]),
                    F.struct(*[F.col(f"new_{g}").alias(g) for g in group_cols]),
                )
            ).alias("g")
        )
        .select("g.*")
        .na.drop()
        .distinct()
    )
    rescan = (
        base_now.join(F.broadcast(affected), list(group_cols), "left_semi")
        .groupBy(*group_cols)
        .agg(
            F.min(minmax_col).alias(f"__re_{mn}"),
            F.max(minmax_col).alias(f"__re_{mx}"),
        )
        .withColumn("__rescanned", F.lit(1))
    )
    prev = rollup.select(
        *group_cols, F.col(mn).alias(f"__old_{mn}"), F.col(mx).alias(f"__old_{mx}")
    )
    return (
        additive.join(rescan, list(group_cols), "left")
        .join(prev, list(group_cols), "left")
        .select(
            *group_cols,
            count_col,
            *sum_cols,
            F.when(F.col("__rescanned") == 1, F.col(f"__re_{mn}"))
            .otherwise(F.col(f"__old_{mn}"))
            .alias(mn),
            F.when(F.col("__rescanned") == 1, F.col(f"__re_{mx}"))
            .otherwise(F.col(f"__old_{mx}"))
            .alias(mx),
        )
    )


@query(
    "incremental_rollup_minmax",
    oracle="""
    -- final-state twin of min/max-bearing IVM over the same %4
    -- lifecycle (bootstrap -> MERGE -> DELETE): the engine must reach
    -- this by folding CDC deltas for count/sum and re-aggregating
    -- ONLY affected groups for min/max — a stale min after the delete
    -- of a group's minimum diverges immediately
    WITH final_state AS (
      SELECT o_orderkey % 10 AS grp,
             CASE WHEN o_orderdate < DATE '1998-01-01' AND o_orderkey % 7 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 <> 0
    )
    SELECT CAST(grp AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(price), 2) AS total_price,
           round(min(price), 2) AS min_price,
           round(max(price), 2) AS max_price
    FROM final_state
    GROUP BY grp
    ORDER BY grp
    """,
)
def incremental_rollup_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max-bearing IVM under the hash gate (round 5): maintain a
    per-group rollup carrying count, sum, min AND max through the
    MERGE + DELETE lifecycle — additive measures fold from the CDC
    value feed, min/max re-aggregate only the affected groups from the
    current snapshot (`incremental_rollup_update_with_minmax`). The
    oracle aggregates the final state directly; a min kept stale after
    its row was deleted, or a max missed on group migration, breaks
    the hash."""
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).alias("grp"),
            "o_totalprice",
            "o_orderdate",
        )
        .filter(F.col("o_orderkey") % 4 == 1)
    )
    tbl = tempfile.mkdtemp(prefix="pim-ivm2-")
    try:
        pre = orders.filter(F.col("o_orderdate") < "1998-01-01")
        v1 = pre.select(
            "o_orderkey", "grp", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(4, "o_orderkey")
        commit_snapshot(v1, tbl, op="bootstrap", stats_cols=("o_orderkey",))
        rollup = (
            read_version(spark, tbl, 1)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("o_totalprice").alias("o_totalprice"),
                F.min("o_totalprice").alias("min_o_totalprice"),
                F.max("o_totalprice").alias("max_o_totalprice"),
            )
        )

        inserts = orders.filter(F.col("o_orderdate") >= "1998-01-01").select(
            "o_orderkey", "grp", "o_totalprice", F.lit(2).cast("long").alias("version")
        )
        updates = pre.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            "grp",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("version"),
        )
        merge_files(
            spark, tbl, inserts.unionByName(updates), keys=["o_orderkey"], order_col="version"
        )
        delete_where(spark, tbl, F.col("o_orderkey") % 5 == 0)

        for from_v, to_v in ((1, 2), (2, 3)):
            changes = changes_between(
                spark, tbl, ["o_orderkey"], from_v, to_v, with_values=True
            )
            rollup = incremental_rollup_update_with_minmax(
                rollup, changes, read_version(spark, tbl, to_v),
                group_cols=("grp",), sum_cols=("o_totalprice",),
                minmax_col="o_totalprice", count_col="n_orders",
            )

        rows = [
            (
                r["grp"], r["n_orders"], float(r["o_totalprice"]),
                float(r["min_o_totalprice"]), float(r["max_o_totalprice"]),
            )
            for r in rollup.collect()
        ]
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return (
        spark.createDataFrame(
            rows,
            "grp bigint, n_orders bigint, total_price double, min_price double, max_price double",
        )
        .select(
            "grp", "n_orders",
            F.round("total_price", 2).alias("total_price"),
            F.round("min_price", 2).alias("min_price"),
            F.round("max_price", 2).alias("max_price"),
        )
        .orderBy("grp")
    )


@query(
    "incremental_rollup_maintenance",
    oracle="""
    -- direct aggregation of the FINAL store state; the engine must
    -- reach the identical rollup by folding two CDC deltas into the
    -- v1 aggregate (never rescanning the base) — wrong delta math
    -- (missed update old-value subtraction, deletes not negated,
    -- group migration) diverges immediately.
    WITH final_state AS (
      SELECT o_orderkey % 10 AS grp,
             CASE WHEN o_orderdate < DATE '1998-01-01' AND o_orderkey % 7 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 <> 0
    )
    SELECT CAST(grp AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(price), 2) AS total_price
    FROM final_state
    GROUP BY grp
    ORDER BY grp
    """,
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance under the hash gate:
    aggregate ONCE over snapshot v1, then maintain the rollup through
    the v1→v2 MERGE and v2→v3 DELETE purely from the CDC value feed
    (``changes_between(with_values=True)`` →
    ``incremental_rollup_update``). The oracle aggregates the final
    state directly, so the maintained view must be value-identical to
    a full recompute while having processed only the changes."""
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).alias("grp"),
            "o_totalprice",
            "o_orderdate",
        )
        .filter(F.col("o_orderkey") % 4 == 1)
    )
    tbl = tempfile.mkdtemp(prefix="pim-ivm-")
    try:
        pre = orders.filter(F.col("o_orderdate") < "1998-01-01")
        v1 = pre.select(
            "o_orderkey", "grp", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(4, "o_orderkey")
        commit_snapshot(v1, tbl, op="bootstrap", stats_cols=("o_orderkey",))
        rollup = (
            read_version(spark, tbl, 1)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("o_totalprice").alias("o_totalprice"),
            )
        )

        inserts = orders.filter(F.col("o_orderdate") >= "1998-01-01").select(
            "o_orderkey", "grp", "o_totalprice", F.lit(2).cast("long").alias("version")
        )
        updates = pre.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            "grp",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("version"),
        )
        merge_files(
            spark, tbl, inserts.unionByName(updates), keys=["o_orderkey"], order_col="version"
        )
        delete_where(spark, tbl, F.col("o_orderkey") % 5 == 0)

        for from_v, to_v in ((1, 2), (2, 3)):
            changes = changes_between(
                spark, tbl, ["o_orderkey"], from_v, to_v, with_values=True
            )
            rollup = incremental_rollup_update(
                rollup, changes, group_cols=("grp",), sum_cols=("o_totalprice",),
                count_col="n_orders",
            )

        # the maintained view is small (one row per group): collect it
        # before the run-scoped store is deleted
        rows = [
            (r["grp"], r["n_orders"], float(r["o_totalprice"]))
            for r in rollup.collect()
        ]
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return (
        spark.createDataFrame(rows, "grp bigint, n_orders bigint, total_price double")
        .select("grp", "n_orders", F.round("total_price", 2).alias("total_price"))
        .orderBy("grp")
    )


def optimize(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    zorder_by: Sequence[str] = (),
    stats_cols: Sequence[str] = (),
) -> dict:
    """OPTIMIZE for the commit-log store: rewrite the current snapshot
    into ~``target_file_mb`` files (optionally Z-ordered) and commit
    the result as a new snapshot — pure maintenance, readers see
    value-identical data and every prior version remains readable.

    Merge churn leaves one small file per touched range per sync;
    unmanaged, scan planning and the per-file stats map grow without
    bound. Because data files are immutable and the manifest is the
    table, OPTIMIZE is just: read current files → rewrite clustered →
    commit new file list; old files stay until ``vacuum``. Records
    fresh per-file stats so data skipping quality RESETS to optimal
    (post-merge files mix key ranges; post-optimize files are tight):
    the parent's range columns plus ``stats_cols`` (default: the
    Z-order columns).
    """
    from pim_etl_spark.pipeline.gold import with_zorder

    parent, manifest = _head(path)
    _require_no_pending_deletes(path, manifest, "optimize")
    files = manifest["files"]
    total_bytes = sum(os.path.getsize(_entry_path(path, f)) for f in files)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = _scan(spark, path, files, manifest)
    if zorder_by:
        df = (
            with_zorder(df, zorder_by)
            .repartitionByRange(n_files, "__zval")
            .sortWithinPartitions("__zval")
            .drop("__zval")
        )
    else:
        df = df.repartition(n_files)
    res = _rewrite(
        path, parent, files, manifest.get("file_stats", {}), files, df, "optimize",
        {"bytes": total_bytes}, required_cols=tuple(stats_cols) or tuple(zorder_by),
    )
    return {**res, "files_before": len(files), "files_after": res["files_written"]}


def optimize_small_files(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 32,
    target_file_mb: int = 256,
    stats_cols: Sequence[str] = (),
) -> dict:
    """Incremental OPTIMIZE (round 5 — Delta's minFileSize semantics):
    bin-pack ONLY files below ``small_file_mb`` into ~``target_file_mb``
    outputs; every adequately-sized file carries into the new manifest
    BY NAME. Merge churn produces one small file per touched range per
    sync — this reclaims them at O(small bytes), where the full
    ``optimize`` rewrite is O(table) and at 100 TB exists only for
    re-clustering (Z-order), not maintenance."""
    parent, manifest = _head(path)
    _require_no_pending_deletes(path, manifest, "optimize_small_files")
    files = manifest["files"]
    sizes = {f: os.path.getsize(_entry_path(path, f)) for f in files}
    small = [f for f in files if sizes[f] < small_file_mb * 1024 * 1024]
    if len(small) < 2:
        return {"version": parent, "files_compacted": 0, "files_kept": len(files)}
    small_bytes = sum(sizes[f] for f in small)
    n_out = max(1, round(small_bytes / (target_file_mb * 1024 * 1024)))
    df = _scan(spark, path, small, manifest).repartition(n_out)
    return _rewrite(
        path, parent, files, manifest.get("file_stats", {}), small, df, "optimize-small",
        {"files_compacted": len(small), "bytes_compacted": small_bytes},
        required_cols=stats_cols,
    )


def tag(path: str, name: str, version: int | None = None) -> int:
    """Name a snapshot (Iceberg-style tag): a tiny pointer file under
    ``_manifests/tags/``. Tags protect nothing by themselves — vacuum
    retention still governs file lifetime — but give releases a stable
    handle (``read_version(..., version=resolve_tag(path, 'v2024-q3'))``)."""
    v = current_version(path) if version is None else version
    if not os.path.exists(_manifest_path(path, v)):
        raise FileNotFoundError(f"cannot tag {path!r} v{v}: no such snapshot")
    tags_dir = os.path.join(_manifest_dir(path), "tags")
    os.makedirs(tags_dir, exist_ok=True)
    tmp = os.path.join(tags_dir, f".tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump({"name": name, "version": v}, fh)
    os.rename(tmp, os.path.join(tags_dir, f"{name}.json"))
    return v


def resolve_tag(path: str, name: str) -> int:
    with open(os.path.join(_manifest_dir(path), "tags", f"{name}.json")) as fh:
        return int(json.load(fh)["version"])


def list_tags(path: str) -> dict[str, int]:
    tags_dir = os.path.join(_manifest_dir(path), "tags")
    if not os.path.isdir(tags_dir):
        return {}
    out = {}
    for f in os.listdir(tags_dir):
        if f.endswith(".json") and not f.startswith("."):
            with open(os.path.join(tags_dir, f)) as fh:
                d = json.load(fh)
            out[d["name"]] = int(d["version"])
    return out


def version_as_of_timestamp(path: str, unix_ts: float) -> int:
    """TIMESTAMP AS OF: the snapshot that was current at ``unix_ts``
    (highest version committed at or before it). Commit wall-clock is
    observability metadata only — deterministic workloads address
    snapshots by number or tag."""
    best = 0
    for m in history(path):
        at = m.get("committed_at_unix")
        if at is not None and at <= unix_ts and m["version"] > best:
            best = m["version"]
    if best == 0:
        raise FileNotFoundError(f"no snapshot of {path!r} existed at {unix_ts}")
    return best


def merge_files_with_retry(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    order_col: str,
    max_retries: int = 3,
) -> dict:
    """Optimistic-concurrency retry loop around ``merge_files``: on
    ``CommitConflict`` the merge RE-READS the (now newer) table state
    and re-derives — correct because the merge is a pure function of
    (current snapshot, batch) and upsert is idempotent. This is the
    whole multi-writer story: detection in ``_commit``, resolution by
    recompute-and-retry here."""
    last: CommitConflict | None = None
    for _ in range(max_retries + 1):
        try:
            return merge_files(spark, path, incoming, keys=keys, order_col=order_col)
        except CommitConflict as exc:
            last = exc
    raise last


def refresh_rollup(
    spark: SparkSession,
    table_path: str,
    rollup_path: str,
    keys: Sequence[str],
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str = "n_rows",
    ignore_cols: Sequence[str] = (),
) -> dict:
    """Catch-up refresh of a derived rollup table from the base
    table's commit log — the materialized-view maintenance command.

    The rollup store's own manifest records, via the txn watermark
    (app ``ivm:<base>``), the highest base snapshot already folded in;
    each refresh walks ONLY the unprocessed versions, folds each CDC
    value-diff with ``incremental_rollup_update`` (O(changes)), and
    commits the updated rollup with the new watermark ATOMICALLY —
    re-running after a crash never double-applies a delta. First call
    bootstraps from a full aggregate of the current base snapshot."""
    app_id = f"ivm:{os.path.abspath(table_path)}"
    base_head = current_version(table_path)
    done = last_txn_version(rollup_path, app_id)

    if done < 0:
        base = read_version(spark, table_path)
        rollup = base.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("long").alias(count_col),
            *[F.sum(m).alias(m) for m in sum_cols],
        )
        version = commit_snapshot_txn(rollup, rollup_path, app_id, base_head)
        return {"rollup_version": version, "base_versions_applied": [base_head], "bootstrapped": True}

    applied = []
    rollup = read_version(spark, rollup_path)
    for v in range(done + 1, base_head + 1):
        try:
            changes = changes_between(
                spark, table_path, keys, v - 1, v, with_values=True, ignore_cols=ignore_cols
            )
        except FileNotFoundError as exc:
            # base history vacuumed past this rollup's watermark: the
            # delta walk cannot catch up. Actionable error (mirrors the
            # pim_changefeed source's vacuumed-manifest guidance)
            # instead of a bare missing-manifest traceback.
            raise FileNotFoundError(
                f"rollup {rollup_path!r} is at base version {done} but base "
                f"{table_path!r} no longer retains manifest v{v - 1} (vacuumed). "
                f"Delete the rollup table and re-run to re-bootstrap from a full "
                f"aggregate, and size vacuum keep_last above the refresh cadence."
            ) from exc
        rollup = incremental_rollup_update(
            rollup, changes, group_cols=group_cols, sum_cols=sum_cols, count_col=count_col
        )
        applied.append(v)
    if not applied:
        return {"rollup_version": current_version(rollup_path), "base_versions_applied": [], "bootstrapped": False}
    version = commit_snapshot_txn(rollup, rollup_path, app_id, base_head)
    return {"rollup_version": version, "base_versions_applied": applied, "bootstrapped": False}


def shallow_clone(src_path: str, dst_path: str, version: int | None = None) -> int:
    """Zero-copy CLONE (round 5 — Delta/Iceberg SHALLOW CLONE): create
    a new versioned table whose first snapshot references the SOURCE
    table's immutable data files by absolute path. No data moves; the
    clone is writable immediately — any merge/delete that touches a
    referenced file rewrites it LOCALLY (copy-on-write via
    ``_entry_path``), so the clone diverges file-by-file while
    untouched files stay shared. The dev/test-fork primitive: fork
    100 TB in milliseconds, experiment, throw away.

    Caveat (same as Delta): ``vacuum`` on the SOURCE does not know
    about clones — size source retention above clone lifetime, or
    deep-copy with ``commit_snapshot`` for long-lived forks. The
    clone's own vacuum can never delete source files (absolute entries
    are invisible to its data-dir GC)."""
    v = current_version(src_path) if version is None else version
    m = read_manifest(src_path, v)
    _require_no_pending_deletes(src_path, m, "shallow_clone")
    abs_files = [_entry_path(src_path, f) for f in m["files"]]
    abs_stats = {
        _entry_path(src_path, f): st for f, st in m.get("file_stats", {}).items()
    }
    return _commit(
        dst_path,
        abs_files,
        f"clone({src_path}@v{v})",
        {"cloned_files": len(abs_files)},
        file_stats=abs_stats,
        # machine-readable provenance: merge_branch resolves the merge
        # BASE from these (the op string is for humans)
        extra={
            "clone_src": os.path.abspath(src_path),
            "clone_src_version": v,
            # the clone must read the source's files under the same
            # logical schema: inherit its rename state and schema
            "column_renames": m.get("column_renames", []),
            "schema": m.get("schema"),
        },
        expect_parent=current_version(dst_path),
    )


class BranchConflict(RuntimeError):
    """merge_branch found keys modified on BOTH the branch and the
    source since the branch point — merging would silently overwrite
    one side's change (the lost-update problem, key-granular)."""


def merge_branch(
    spark: SparkSession,
    src_path: str,
    branch_path: str,
    keys: Sequence[str],
    order_col: str,
    strategy: str = "fail",
    ignore_cols: Sequence[str] = (),
) -> dict:
    """Merge a shallow-cloned BRANCH back into its source table — the
    git-style branch workflow on the commit log: ``shallow_clone`` is
    the zero-copy branch, experiments commit to it in isolation, and
    this is the PR merge. Only the branch's NET delta since the branch
    point (``changes_between`` over its commit log — O(changed files))
    is applied to the source, as one MERGE plus one keyed DELETE.

    Three-way conflict detection: keys changed on the branch ∩ keys
    changed on the source since the branch base.
    ``strategy='fail'`` (default) raises ``BranchConflict``;
    ``'ours'`` keeps the source's version of conflicted keys (applies
    only non-conflicting branch changes); ``'theirs'`` lets the
    branch's version win wholesale."""
    if strategy not in ("fail", "ours", "theirs", "columns"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    b1 = read_manifest(branch_path, 1, materialize=False)
    base_v = b1.get("clone_src_version")
    if base_v is None:
        raise ValueError(
            f"{branch_path!r} is not a shallow-cloned branch (v1 records "
            "no clone_src_version); merge_branch only merges clones"
        )
    bhead = current_version(branch_path)
    if bhead == 1:
        return {"merged": False, "reason": "branch has no commits past the branch point"}
    # narrow (keys, change_type) frame consumed by the conflict check,
    # the upsert semi-join, the delete key set AND the emptiness probes
    # below — materialize once instead of re-running the CDC diff scan
    # per consumer (r12: 4 executions → 1)
    bdelta = changes_between(spark, branch_path, keys, 1, bhead).localCheckpoint(
        eager=False
    )
    src_head = current_version(src_path)
    n_conflicts = 0
    if src_head > base_v:
        src_changed = changes_between(spark, src_path, keys, base_v, src_head).select(
            *keys
        )
        conflicts = bdelta.select(*keys).join(src_changed, list(keys), "inner")
        n_conflicts = conflicts.count()
        if n_conflicts and strategy == "fail":
            raise BranchConflict(
                f"{n_conflicts} key(s) changed on both {branch_path!r} and "
                f"{src_path!r} since branch base v{base_v}; re-branch and "
                "rebase, or merge with strategy='ours'/'theirs'"
            )
        if n_conflicts and strategy == "ours":
            bdelta = bdelta.join(src_changed, list(keys), "left_anti")
    up_keys = bdelta.filter(F.col("change_type") != "delete").select(*keys)
    upserts = read_version(spark, branch_path, bhead).join(
        up_keys, list(keys), "left_semi"
    )
    if n_conflicts and strategy == "columns":
        # column-granular three-way merge (the refinement SCALE.md
        # scoped out of the key-level strategies): for keys BOTH sides
        # changed, take the branch's value for exactly the columns the
        # branch changed vs the merge base, the source's otherwise. A
        # key where both sides changed the SAME column (or where the
        # base row is absent — both sides inserted independently) has
        # no automatic resolution and raises.
        base = read_version(spark, src_path, base_v)
        src_now = read_version(spark, src_path, src_head)
        conf_keys = conflicts.select(*keys).distinct()
        cols = [c for c in base.columns if c not in keys]
        b_side = upserts.join(conf_keys, list(keys), "left_semi")
        tagged = (
            b_side.select(*keys, *[F.col(c).alias(f"__b_{c}") for c in cols])
            .join(
                base.select(*keys, *[F.col(c).alias(f"__base_{c}") for c in cols]),
                list(keys),
                "left",
            )
            .join(
                src_now.select(*keys, *[F.col(c).alias(f"__s_{c}") for c in cols]),
                list(keys),
                "inner",
            )
        )
        # a key both sides INSERTED has no base row: every non-null
        # column reads as changed-on-both-sides and clashes below —
        # conservative by design (identical-value double-inserts also
        # raise; provenance is ambiguous either way)
        col_clash = F.lit(False)
        merged_cols = []
        for c in cols:
            b_chg = ~F.col(f"__b_{c}").eqNullSafe(F.col(f"__base_{c}"))
            s_chg = ~F.col(f"__s_{c}").eqNullSafe(F.col(f"__base_{c}"))
            if c not in set(ignore_cols):
                # audit/order columns (last_sync, version counters) are
                # EXPECTED to move on both sides — they merge
                # branch-wins without registering a clash
                col_clash = col_clash | (b_chg & s_chg)
            merged_cols.append(
                F.when(b_chg, F.col(f"__b_{c}")).otherwise(F.col(f"__s_{c}")).alias(c)
            )
        n_clash = tagged.filter(col_clash).limit(1).count()
        if n_clash:
            raise BranchConflict(
                f"column-level conflict merging {branch_path!r} into "
                f"{src_path!r}: both sides changed the same column(s) for "
                "at least one key since the branch base; resolve manually "
                "or merge with strategy='ours'/'theirs'"
            )
        merged_conf = tagged.select(*keys, *merged_cols)
        upserts = (
            upserts.join(conf_keys, list(keys), "left_anti")
            .unionByName(merged_conf)
        )
    del_keys = bdelta.filter(F.col("change_type") == "delete").select(*keys)
    # one probe job, not two: upserts is nonempty iff bdelta holds any
    # non-delete row (its keys exist at the branch head by construction
    # of the change feed, so the semi-join always matches), and del_keys
    # mirrors that for deletes — both flags fold into one agg over the
    # materialized narrow delta
    probe = bdelta.agg(
        F.count(F.when(F.col("change_type") != "delete", 1)).alias("n_up"),
        F.count(F.when(F.col("change_type") == "delete", 1)).alias("n_del"),
    ).collect()[0]
    n_up, n_del = probe["n_up"], probe["n_del"]
    if n_up and n_conflicts and strategy == "columns":
        # ADVICE r12: under the column-merge strategy the upserts frame
        # was REBUILT above (anti-join + merged conflict rows), so
        # "bdelta holds a non-delete row" no longer implies it is
        # non-empty (a conflicted key dropped by the src_now inner join
        # leaves n_up > 0 with zero upsert rows). Probe the actual
        # frame on this branch only — the rare, conflicts-present path.
        n_up = upserts.limit(1).count()
    if n_up:
        merge_files(spark, src_path, upserts, keys=keys, order_col=order_col)
    if n_del:
        delete_matching(spark, src_path, del_keys, keys)
    return {
        "merged": True,
        "branch_head": bhead,
        "base_version": base_v,
        "conflicts": n_conflicts,
        "strategy": strategy,
        "src_version": current_version(src_path),
    }


def sync_replica(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: Sequence[str],
    order_col: str,
) -> dict:
    """Maintain a downstream REPLICA of a versioned table from its
    commit log (round 5) — the row-level sibling of ``refresh_rollup``:
    per refresh, the NET change between the replica's watermark and the
    source head is derived once (``changes_between`` — O(changed
    files), intermediate versions are never replayed individually),
    then applied as one MERGE of the insert/update rows plus one
    copy-on-write DELETE of the deleted keys. The (app, version)
    watermark commits atomically with the data, so a crashed or
    re-run refresh never double-applies.

    This is how a 100 TB lake fans out: downstream marts subscribe to
    the gold table's log and pay O(their delta), never O(table), per
    refresh. First call bootstraps with a full snapshot copy."""
    app_id = f"replica:{os.path.abspath(src_path)}"
    src_head = current_version(src_path)
    done = last_txn_version(dst_path, app_id)
    if done < 0:
        boot = read_version(spark, src_path)
        files, fstats = _write_data_files(boot, dst_path, 1, stats_cols=(keys[0],))
        _commit(
            dst_path, files, "replica-bootstrap", {"files_written": len(files)},
            file_stats=fstats, txn=(app_id, src_head), expect_parent=0, schema=boot.schema,
        )
        return {"bootstrapped": True, "applied_through": src_head,
                "replica_version": current_version(dst_path)}
    if done >= src_head:
        return {"bootstrapped": False, "applied_through": done,
                "replica_version": current_version(dst_path)}

    try:
        # keys + change_type ONLY: the replica pulls row VALUES from
        # the source head via a semi-join, so the wide old_/new_ value
        # projection is never built (on a many-nested-column gold
        # schema that projection's codegen alone can exhaust the
        # driver heap). The narrow frame is checkpointed once and
        # feeds both the merge and the delete.
        net = changes_between(
            spark, src_path, keys, done, src_head, with_values=False
        ).localCheckpoint(eager=True)
    except FileNotFoundError as exc:
        raise FileNotFoundError(
            f"replica {dst_path!r} is at source version {done} but "
            f"{src_path!r} no longer retains that manifest (vacuumed). "
            f"Delete the replica and re-run to re-bootstrap, and size "
            f"vacuum keep_last above the replication cadence."
        ) from exc
    src_now = read_version(spark, src_path, src_head)
    upserts = src_now.join(
        net.filter(F.col("change_type") != "delete").select(*keys),
        list(keys),
        "left_semi",
    )
    deleted_keys = net.filter(F.col("change_type") == "delete").select(*keys)
    # one probe job over the already-checkpointed narrow feed: upserts
    # is nonempty iff net has any non-delete row (those keys exist at
    # the source head by construction, so the semi-join always matches)
    probe = net.agg(
        F.count(F.when(F.col("change_type") == "delete", 1)).alias("n_del"),
        F.count(F.when(F.col("change_type") != "delete", 1)).alias("n_up"),
    ).collect()[0]
    n_del, n_up = probe["n_del"], probe["n_up"]
    if n_up > 0:
        merge_files(
            spark, dst_path, upserts, keys=keys, order_col=order_col,
            txn=(app_id, src_head) if n_del == 0 else None,
        )
    if n_del > 0:
        # set-oriented COW delete (the key set never reaches the
        # driver); the txn watermark rides the FINAL commit of the
        # refresh so a crash between merge and delete re-runs both
        # (idempotent: the merge re-applies the same values, the
        # repeated delete matches nothing)
        delete_matching(spark, dst_path, deleted_keys, keys)
    if n_del > 0 or n_up == 0:
        # stamp the watermark as its own metadata-only commit (same
        # file list) — also covers a net-empty range (rollback chains)
        head = read_manifest(dst_path, current_version(dst_path))
        _commit(
            dst_path, head["files"], "replica-watermark", {},
            file_stats=head.get("file_stats", {}), txn=(app_id, src_head),
        )
    return {"bootstrapped": False, "applied_through": src_head,
            "replica_version": current_version(dst_path)}


@query(
    "versioned_replica_sync",
    oracle="""
    -- final source state of the %4 lifecycle, which the REPLICA must
    -- equal after catching up purely from the CDC log (bootstrap at
    -- v1, then one net refresh over the MERGE + DELETE); the
    -- replica_matches_source flag pins row-for-row equality
    WITH final_state AS (
      SELECT o_orderkey,
             CASE WHEN o_orderdate < DATE '1998-01-01' AND o_orderkey % 7 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 <> 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(price), 2) AS total_price,
           TRUE AS replica_matches_source
    FROM final_state
    """,
)
def versioned_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replica maintenance under the hash gate (round 5):
    bootstrap a replica at source v1, run the source through the
    MERGE + DELETE lifecycle, then one ``sync_replica`` refresh must
    bring the replica row-for-row equal to the source head — applying
    only the NET delta (one merge + one keyed delete), never replaying
    the table. The oracle recomputes the final state closed-form and
    asserts the equality flag."""
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .filter(F.col("o_orderkey") % 4 == 1)  # see gold_time_travel_diff
    )
    src = tempfile.mkdtemp(prefix="pim-repl-src-")
    dst = tempfile.mkdtemp(prefix="pim-repl-dst-")
    try:
        pre = orders.filter(F.col("o_orderdate") < "1998-01-01")
        v1 = pre.select(
            "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(4, "o_orderkey")
        commit_snapshot(v1, src, op="bootstrap", stats_cols=("o_orderkey",))
        sync_replica(spark, src, dst, keys=["o_orderkey"], order_col="version")

        inserts = orders.filter(F.col("o_orderdate") >= "1998-01-01").select(
            "o_orderkey", "o_totalprice", F.lit(2).cast("long").alias("version")
        )
        updates = pre.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("version"),
        )
        merge_files(
            spark, src, inserts.unionByName(updates), keys=["o_orderkey"], order_col="version"
        )
        delete_where(spark, src, F.col("o_orderkey") % 5 == 0)

        sync_replica(spark, src, dst, keys=["o_orderkey"], order_col="version")

        # row-for-row equality via multiset fingerprint: equal counts +
        # equal XOR of per-row hashes (order-insensitive, one agg per
        # side — the exceptAll formulation costs four shuffles and was
        # the bench-dominant step of this entry)
        def fp(df):
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("o_orderkey", "o_totalprice")).alias("x"),
                F.round(F.sum("o_totalprice"), 2).alias("s"),
            ).collect()[0]

        rep = fp(read_version(spark, dst).select("o_orderkey", "o_totalprice"))
        src_fp = fp(read_version(spark, src).select("o_orderkey", "o_totalprice"))
        matches = rep["n"] == src_fp["n"] and rep["x"] == src_fp["x"]
        rows = [(rep["n"], float(rep["s"]), matches)]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
    return spark.createDataFrame(
        rows, "n_rows bigint, total_price double, replica_matches_source boolean"
    )


def commit_snapshot_txn(df: DataFrame, path: str, app_id: str, txn_version: int) -> int:
    """Full-snapshot commit carrying a txn watermark (the derived-table
    form: the snapshot and its source-progress marker are one atomic
    commit)."""
    return commit_snapshot(df, path, txn=(app_id, txn_version))


def register_view(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> None:
    """Expose a snapshot to the SQL surface as a temp view — time
    travel from plain ``spark.sql``: register v1 as ``catalog_v1`` and
    head as ``catalog`` and every downstream query/join works
    unchanged."""
    read_version(spark, path, version).createOrReplaceTempView(name)


@query(
    "versioned_point_lookup",
    oracle="""
    -- twin of the Bloom-indexed point lookup: the 5 smallest and the
    -- 3 largest order keys, read back from the versioned store. The
    -- store scatters keys across files (hash repartition), so range
    -- stats cannot prune — only the per-file Bloom makes the lookup
    -- O(matching files); a hash/packing/probe bug surfaces as missing
    -- or phantom rows here.
    WITH keys AS (
      (SELECT o_orderkey FROM orders ORDER BY o_orderkey ASC LIMIT 5)
      UNION ALL
      (SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 3)
    )
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total_price
    FROM orders o JOIN keys USING (o_orderkey)
    ORDER BY o.o_orderkey
    """,
)
def versioned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the manifest's per-file Bloom index
    (``point_lookup``): bootstrap a store with hash-SCATTERED order
    keys — the adversarial case where every file's [min, max] spans the
    domain and min/max skipping prunes nothing — then look up 8 keys.
    The scan should open ~O(k) files, not all 8 (pinned in
    tests/test_versioned.py::test_bloom_point_lookup_prunes_scattered_files);
    this entry hash-gates the CORRECTNESS of the pruned read against
    the plain filter twin."""
    import shutil
    import tempfile

    from pim_etl_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lo = [r.o_orderkey for r in orders.orderBy(F.col("o_orderkey").asc()).limit(5).collect()]
    hi = [r.o_orderkey for r in orders.orderBy(F.col("o_orderkey").desc()).limit(3).collect()]
    tbl = tempfile.mkdtemp(prefix="pim-vbloom-")
    try:
        commit_snapshot(
            orders.repartition(8, "o_orderkey"),
            tbl,
            stats_cols=("o_orderkey",),
            bloom_col="o_orderkey",
        )
        rows = (
            point_lookup(spark, tbl, "o_orderkey", lo + hi)
            .select(
                "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
            )
            .orderBy("o_orderkey")
            .collect()
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(rows, "o_orderkey bigint, total_price double").orderBy(
        "o_orderkey"
    )


@query(
    "versioned_branch_merge",
    oracle="""
    -- closed-form twin of the branch/merge workflow: branch updates
    -- keys %9 (price*3) and deletes keys %11; the source concurrently
    -- updates DISJOINT keys %13 (price*2, minus the branch's key
    -- sets); the merged head must equal this arithmetic exactly.
    -- Multipliers are integers so every price stays 2dp-exact and the
    -- rounded sum is boundary-free (NOTES.md money rule).
    WITH scoped AS (
      SELECT o_orderkey AS k, o_totalprice AS p
      FROM orders WHERE o_orderkey % 8 = 2
    ),
    final AS (
      SELECT k,
             CASE WHEN k % 9 = 0 THEN p * 3
                  WHEN k % 13 = 0 THEN p * 2
                  ELSE p END AS price
      FROM scoped WHERE k % 11 <> 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(price), 2) AS total_price,
           TRUE AS branch_merged_clean
    FROM final
    """,
)
def versioned_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch/merge workflow under the hash gate: shallow-clone a
    branch (zero-copy), commit an update + a keyed delete to it while
    the SOURCE advances on disjoint keys, then ``merge_branch`` folds
    the branch's net delta back — three-way conflict detection must
    find zero conflicts and the merged head must equal the closed-form
    arithmetic. A wrong base version, a delta computed against the
    wrong snapshot, or a merge that replays instead of net-applies all
    hash-mismatch here."""
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 8 == 2)  # an eighth: the entry
        # proves branch/merge semantics, not write throughput
    )
    src = tempfile.mkdtemp(prefix="pim-branch-src-")
    br = tempfile.mkdtemp(prefix="pim-branch-br-")
    try:
        v1 = orders.select(
            "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(2, "o_orderkey")
        commit_snapshot(v1, src, op="bootstrap", stats_cols=("o_orderkey",))
        shallow_clone(src, br)

        # branch work: update %9 keys, delete %11 keys
        merge_files(
            spark, br,
            orders.filter(F.col("o_orderkey") % 9 == 0).select(
                "o_orderkey",
                (F.col("o_totalprice") * 3).alias("o_totalprice"),
                F.lit(2).cast("long").alias("version"),
            ),
            keys=["o_orderkey"], order_col="version",
        )
        delete_matching(
            spark, br,
            orders.filter(F.col("o_orderkey") % 11 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        # concurrent source work on DISJOINT keys (%13 minus %9/%11)
        merge_files(
            spark, src,
            orders.filter(
                (F.col("o_orderkey") % 13 == 0)
                & (F.col("o_orderkey") % 9 != 0)
                & (F.col("o_orderkey") % 11 != 0)
            ).select(
                "o_orderkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                F.lit(2).cast("long").alias("version"),
            ),
            keys=["o_orderkey"], order_col="version",
        )
        out = merge_branch(
            spark, src, br, keys=["o_orderkey"], order_col="version"
        )
        head = read_version(spark, src).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        ).collect()[0]
        rows = [(head["n"], float(head["s"]), bool(out["merged"]) and out["conflicts"] == 0)]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(br, ignore_errors=True)
    return spark.createDataFrame(
        rows, "n_rows bigint, total_price double, branch_merged_clean boolean"
    )


@query(
    "versioned_mor_delete",
    oracle="""
    -- closed-form twin of the merge-on-read delete lifecycle:
    --   v1 bootstrap = orders with o_orderkey % 4 = 2
    --   v2 MoR delete p1: o_orderdate < 1997-01-01 (DV sidecar, 0 rewrites)
    --   v3 MoR delete p2: o_orderkey % 9 = 0 (stacked; positions already
    --      deleted by p1 are EXCLUDED, so its dv_rows count p2 AND NOT p1)
    --   v4 apply_deletes = compaction; same rows as v3, DVs cleared.
    -- Every (rows, price sum, pending-dv rows) triple is arithmetic on
    -- the orders table, so a vector that misses a row, resurrects one
    -- on compaction, or double-counts a stacked delete hash-mismatches.
    WITH scoped AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      WHERE o_orderkey % 4 = 2
    ),
    p1 AS (SELECT * FROM scoped WHERE o_orderdate < DATE '1997-01-01'),
    p2_new AS (SELECT * FROM scoped
               WHERE o_orderkey % 9 = 0 AND o_orderdate >= DATE '1997-01-01'),
    live3 AS (SELECT * FROM scoped
              WHERE o_orderdate >= DATE '1997-01-01' AND o_orderkey % 9 <> 0)
    SELECT CAST(1 AS INT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(0 AS BIGINT) AS pending_dv_rows
    FROM scoped
    UNION ALL
    SELECT CAST(2 AS INT), CAST((SELECT count(*) FROM scoped) - count(*) AS BIGINT),
           round((SELECT sum(o_totalprice) FROM scoped) - sum(o_totalprice), 2),
           CAST(count(*) AS BIGINT)
    FROM p1
    UNION ALL
    SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT),
           round(sum(o_totalprice), 2),
           CAST((SELECT count(*) FROM p1) + (SELECT count(*) FROM p2_new) AS BIGINT)
    FROM live3
    UNION ALL
    SELECT CAST(4 AS INT), CAST(count(*) AS BIGINT),
           round(sum(o_totalprice), 2), CAST(0 AS BIGINT)
    FROM live3
    ORDER BY version
    """,
)
def versioned_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE lifecycle under the hash gate (Iceberg v2
    position deletes / Delta deletion vectors): bootstrap → two
    STACKED MoR deletes (each writing only a position sidecar, zero
    data files rewritten — asserted, not just claimed: the row's
    ``pending_dv_rows`` comes from the manifest's recorded vector
    rows) → ``apply_deletes`` compaction that must reproduce the
    pre-compaction rows exactly with vectors cleared.

    Scale story: a scattered delete across a thousand 1 GB files costs
    O(matched rows) of sidecar here vs O(matched files) of rewrite
    under copy-on-write; the read tax until compaction is one
    broadcast anti-join on (file, row position). Per-version stats are
    collected driver-side (4 rows — the store lives in a run-scoped
    temp dir); everything data-sized stays distributed.
    """
    import tempfile

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .filter(F.col("o_orderkey") % 4 == 2)
    )
    tbl = tempfile.mkdtemp(prefix="pim-vstore-mor-")
    try:
        commit_snapshot(
            orders.repartitionByRange(4, "o_orderkey"), tbl,
            op="bootstrap", stats_cols=("o_orderkey",),
        )
        d1 = delete_where_mor(spark, tbl, F.col("o_orderdate") < "1997-01-01")
        d2 = delete_where_mor(spark, tbl, F.col("o_orderkey") % 9 == 0)
        assert d1["files_rewritten"] == 0 and d2["files_rewritten"] == 0
        pending = {1: 0, 2: d1["dv_rows_added"],
                   3: d1["dv_rows_added"] + d2["dv_rows_added"]}
        apply_deletes(spark, tbl)
        pending[4] = 0  # post-compaction manifest carries no vectors
        head = read_manifest(tbl, current_version(tbl), materialize=False)
        assert not head.get("delete_files")
        rows = []
        for v in (1, 2, 3, 4):
            stats = (
                read_version(spark, tbl, v)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("o_totalprice"), 2).alias("s"),
                )
                .collect()[0]
            )
            rows.append((v, stats["n"], float(stats["s"]), pending[v]))
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version int, n_rows bigint, total_price double, pending_dv_rows bigint"
    ).orderBy("version")


@query(
    "versioned_schema_evolution",
    oracle="""
    -- closed-form twin of the schema-evolution lifecycle: v1 has no
    -- discount_pct column at all; the v2 MERGE carries the widened
    -- batch schema (slice keys % 12 = 7 updated with a doubled price
    -- AND the new column, keys % 12 = 1 from outside the slice inserted
    -- the same way), and the v2 read must surface untouched rows with
    -- a typed NULL in the evolved column. A read that drops the column
    -- (missing mergeSchema), fabricates non-NULLs, or loses evolved
    -- values on the rewrite path hash-mismatches.
    WITH scoped AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 3
    ),
    batch AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 12 IN (1, 7)
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, FALSE AS has_discount
      FROM scoped WHERE o_orderkey % 12 <> 7
      UNION ALL
      SELECT o_orderkey, o_totalprice, TRUE FROM batch
    )
    SELECT CAST(1 AS INT) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_with_discount,
           round(sum(o_totalprice), 2) AS total_price
    FROM scoped
    UNION ALL
    SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN has_discount THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(o_totalprice), 2)
    FROM v2
    ORDER BY version
    """,
)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under the hash gate: a MERGE whose batch
    carries a column the table has never seen (Delta's mergeSchema
    write). The widened schema must propagate to the rewritten files,
    untouched files must surface the new column as typed NULL on read
    (parquet mergeSchema — per-file footer union), and time travel to
    v1 must still show the ORIGINAL two-column shape. The per-version
    (rows, non-null evolved values, price sum) triple is closed-form
    arithmetic on orders."""
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tbl = tempfile.mkdtemp(prefix="pim-vstore-evo-")
    try:
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 4 == 3)
            .withColumn("version", F.lit(1).cast("long"))
            .repartitionByRange(4, "o_orderkey"),
            tbl, op="bootstrap", stats_cols=("o_orderkey",),
        )
        # keys % 12 = 7 update the slice, keys % 12 = 1 (outside it)
        # insert; both carry the new column
        batch = orders.filter(
            (F.col("o_orderkey") % 12 == 7) | (F.col("o_orderkey") % 12 == 1)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("version"),
            (F.col("o_orderkey") % 100).cast("double").alias("discount_pct"),
        )
        merge_files(spark, tbl, batch, keys=["o_orderkey"], order_col="version")
        rows = []
        for v in (1, 2):
            df = read_version(spark, tbl, v)
            n_disc = (
                F.sum(F.col("discount_pct").isNotNull().cast("long"))
                if "discount_pct" in df.columns
                else F.lit(0).cast("long")
            )
            stats = df.agg(
                F.count(F.lit(1)).alias("n"),
                n_disc.alias("d"),
                F.round(F.sum("o_totalprice"), 2).alias("s"),
            ).collect()[0]
            rows.append((v, stats["n"], stats["d"], float(stats["s"])))
        # the time-travel read of v1 must NOT leak the evolved column
        assert "discount_pct" not in read_version(spark, tbl, 1).columns
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version int, n_rows bigint, n_with_discount bigint, total_price double"
    ).orderBy("version")


@query(
    "versioned_column_rename",
    oracle="""
    -- closed-form twin of the metadata-only RENAME lifecycle:
    --   v1 bootstrap = (o_orderkey, o_totalprice) on the %8=6 slice
    --   v2 rename o_totalprice -> price (zero files rewritten)
    --   v3 MERGE doubles price on %3=0 keys, writing NEW-named files
    -- The head must read pre-rename files (physical o_totalprice) and
    -- post-rename files (physical price) as ONE logical price column;
    -- v1 time travel must still show the old name. A rename that
    -- rewrites data, drops the mapping on merge, or double-surfaces
    -- the column breaks a count, the sum, or a flag.
    WITH scoped AS (
      SELECT o_orderkey AS k, o_totalprice AS p
      FROM orders WHERE o_orderkey % 8 = 6
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN k % 3 = 0 THEN p * 2 ELSE p END), 2) AS total_price,
           TRUE AS head_has_new_name,
           TRUE AS v1_has_old_name,
           TRUE AS rename_rewrote_nothing
    FROM scoped
    """,
)
def versioned_column_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column rename under the hash gate: rename, then a
    MERGE that mixes pre-rename (old physical name) and post-rename
    (new physical name) files in one snapshot — the read path must
    coalesce the generations into the logical column, the rename
    commit must carry every file forward untouched, and time travel to
    v1 must still surface the ORIGINAL name (the logical schema is
    versioned alongside the data)."""
    import tempfile

    from pim_etl_spark.sources import load_table

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 8 == 6)
    )
    tbl = tempfile.mkdtemp(prefix="pim-rename-")
    try:
        v1 = orders.select(
            "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("version")
        ).repartitionByRange(2, "o_orderkey")
        commit_snapshot(v1, tbl, op="bootstrap", stats_cols=("o_orderkey",))
        files_before = set(read_manifest(tbl, 1)["files"])
        rename_column(spark, tbl, "o_totalprice", "price")
        files_after = set(read_manifest(tbl, 2)["files"])
        merge_files(
            spark,
            tbl,
            orders.filter(F.col("o_orderkey") % 3 == 0).select(
                "o_orderkey",
                (F.col("o_totalprice") * 2).alias("price"),
                F.lit(2).cast("long").alias("version"),
            ),
            keys=["o_orderkey"],
            order_col="version",
        )
        head = read_version(spark, tbl)
        agg = head.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).alias("s"),
        ).collect()[0]
        rows = [
            (
                agg["n"],
                float(agg["s"]),
                "price" in head.columns and "o_totalprice" not in head.columns,
                "o_totalprice" in read_version(spark, tbl, 1).columns,
                files_before == files_after,
            )
        ]
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_rows bigint, total_price double, head_has_new_name boolean, "
        "v1_has_old_name boolean, rename_rewrote_nothing boolean",
    )


@query(
    "versioned_column_drop",
    oracle="""
    -- closed-form twin of the metadata-only DROP lifecycle on the
    -- %8=7 slice: v1 = (k, price, note), v2 drops note (zero files
    -- rewritten), v3 MERGE doubles price on %5=0 keys. The head must
    -- show exactly (k, price, version) with the merged arithmetic;
    -- v1 time travel must still carry note; compaction afterwards
    -- physically erases it (flag pinned).
    WITH scoped AS (
      SELECT o_orderkey AS k, o_totalprice AS p
      FROM orders WHERE o_orderkey % 8 = 7
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END), 2) AS total_price,
           TRUE AS head_hides_note,
           TRUE AS v1_keeps_note,
           TRUE AS compaction_erases_note
    FROM scoped
    """,
)
def versioned_column_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only DROP COLUMN under the hash gate — the GDPR
    column-erasure lifecycle: drop is one manifest commit (readers
    lose the column instantly, files carry forward untouched), time
    travel to v1 still shows it, and an OPTIMIZE rewrite afterwards
    physically removes the bytes (verified against the rewritten
    files' parquet footer, not just the logical view)."""
    import tempfile

    from pim_etl_spark.sources import load_table

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 8 == 7)
    )
    tbl = tempfile.mkdtemp(prefix="pim-drop-")
    try:
        v1 = orders.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            F.concat(F.lit("pii-"), F.col("o_orderkey")).alias("note"),
            F.lit(1).cast("long").alias("version"),
        ).repartitionByRange(2, "k")
        commit_snapshot(v1, tbl, op="bootstrap", stats_cols=("k",))
        drop_column(spark, tbl, "note")
        files_carried = set(read_manifest(tbl, 2)["files"]) == set(
            read_manifest(tbl, 1)["files"]
        )
        merge_files(
            spark,
            tbl,
            orders.filter(F.col("o_orderkey") % 5 == 0).select(
                F.col("o_orderkey").alias("k"),
                (F.col("o_totalprice") * 2).alias("price"),
                F.lit(2).cast("long").alias("version"),
            ),
            keys=["k"],
            order_col="version",
        )
        head = read_version(spark, tbl)
        agg = head.agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("price"), 2).alias("s")
        ).collect()[0]
        head_hides = files_carried and "note" not in head.columns
        v1_keeps = "note" in read_version(spark, tbl, 1).columns
        optimize(spark, tbl, stats_cols=("k",))
        physical_cols = set(
            spark.read.parquet(*snapshot_files(tbl)).columns
        )  # footer truth, not the logical overlay
        rows = [
            (
                agg["n"],
                float(agg["s"]),
                head_hides,
                v1_keeps,
                "note" not in physical_cols,
            )
        ]
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_rows bigint, total_price double, head_hides_note boolean, "
        "v1_keeps_note boolean, compaction_erases_note boolean",
    )


# ---------------------------------------------------------------------------
# Cross-table transactions: a CATALOG commit log whose entries pin one
# consistent version per member table. Table-level commits stay what
# they are (atomic per table); the catalog pointer is what makes a
# multi-table write ONE atomic unit for readers that resolve through
# it — the capability single-table lakehouses famously lack (a fact
# table and its rollup drifting for a moment between two commits).
# Crash anywhere between the table commits and the catalog publish
# leaves catalog readers on the previous consistent pair; the orphan
# table versions are superseded by the retry (and vacuumable).


@query(
    "versioned_partition_evolution",
    oracle="""
    -- partition-SPEC evolution (Iceberg's hallmark: change how new
    -- data is laid out WITHOUT rewriting old files): months 1-3
    -- committed under spec 1 (one file per o_month), months 10-12
    -- under spec 2 (one file per (o_month, prio bucket)). Readers
    -- prune per file UNDER THE SPEC THAT WROTE IT: a probe on
    -- (month, bucket) prunes old-spec files by month only (they
    -- cannot prune on the new field, so the month-2 probe scans the
    -- WHOLE month file), while new-spec files prune on both (the
    -- month-11 probe scans exactly the matching bucket file). File
    -- counts are structural (one per distinct partition tuple), row
    -- counts and sums are closed-form on orders.
    WITH o AS (
      SELECT month(o_orderdate) AS m,
             CAST(substr(o_orderpriority, 1, 1) AS INT) % 3 AS b,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    n_total AS (
      SELECT (SELECT count(DISTINCT m) FROM o WHERE m BETWEEN 1 AND 3)
           + (SELECT count(*) FROM (SELECT DISTINCT m, b FROM o WHERE m BETWEEN 10 AND 12))
           AS n_files_total
    )
    -- n_files_scanned derives from the SAME distinct-tuple logic as
    -- n_files_total (round-7 ADVICE: a hardcoded 1 assumed the probe
    -- tuples exist at every SF): the month-2 probe survives pruning
    -- in exactly the old-spec files of month 2 (0 or 1 of them); the
    -- month-11 probe in exactly the new-spec (11, bucket 1) file.
    SELECT 2 AS probe_month,
           CAST((SELECT n_files_total FROM n_total) AS BIGINT) AS n_files_total,
           (SELECT CAST(count(DISTINCT m) AS BIGINT) FROM o WHERE m = 2) AS n_files_scanned,
           (SELECT CAST(count(*) AS BIGINT) FROM o WHERE m = 2) AS n_rows_scanned,
           (SELECT CAST(count(*) AS BIGINT) FROM o WHERE m = 2 AND b = 1) AS n_rows_matched,
           (SELECT CAST(sum(cents) AS BIGINT) FROM o WHERE m = 2 AND b = 1) AS sum_cents
    UNION ALL
    SELECT 11,
           CAST((SELECT n_files_total FROM n_total) AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT DISTINCT m, b FROM o WHERE m = 11 AND b = 1)),
           (SELECT CAST(count(*) AS BIGINT) FROM o WHERE m = 11 AND b = 1),
           (SELECT CAST(count(*) AS BIGINT) FROM o WHERE m = 11 AND b = 1),
           (SELECT CAST(sum(cents) AS BIGINT) FROM o WHERE m = 11 AND b = 1)
    ORDER BY probe_month
    """,
)
def versioned_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution under the hash gate — the lakehouse
    verb the schema-evolution family was missing: the table's physical
    layout CHANGES mid-history (spec 1 clusters by month; spec 2 by
    (month, priority-bucket)) and old files are NEVER rewritten. Each
    commit records its ``partition_spec`` in the manifest, each file
    carries min/max stats for ITS spec's fields, and the reader prunes
    every file under the spec that wrote it: old-spec files prune on
    month only (a (month, bucket) probe must scan the whole month —
    the read amplification spec evolution exists to fix going
    forward), new-spec files prune on both fields (the probe scans
    exactly one bucket file). Scanned-file and scanned-row counts are
    part of the gated output, so the pruning claim is proven, not
    asserted.

    Scale shape: pruning is manifest arithmetic (file-count-sized,
    driver-side — the same ledger read every lakehouse planner does);
    the data scan reads only surviving files. At 100 TB the spec
    change is what saves rewriting petabytes when the query pattern
    shifts — new data lands under the new layout, old data ages out
    via compaction."""
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        F.month("o_orderdate").alias("o_month"),
        (F.substring("o_orderpriority", 1, 1).cast("int") % 3).alias("prio_b"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    tbl = tempfile.mkdtemp(prefix="pim-vstore-pspec-")
    try:
        # spec 1: one commit per month, one file per commit, month
        # stats only. Partition tuples are discovered FROM the data so
        # file counts always equal the oracle's distinct-tuple counts.
        spec1 = {"spec_id": 1, "fields": ["o_month"]}
        months = sorted(
            r["o_month"]
            for r in orders.filter(F.col("o_month").between(1, 3))
            .select("o_month").distinct().collect()
        )
        for m in months:
            commit_append(
                orders.filter(F.col("o_month") == m).coalesce(1),
                tbl, stats_cols=("o_month",),
                extra={"partition_spec": spec1},
            )
        # spec 2 (the evolution): month + priority bucket, one commit
        # per tuple so each file is provably PURE (a union of
        # coalesce(1) branches does NOT keep per-branch partitions —
        # Catalyst collapsed it to one file when tried); old files
        # stay untouched
        spec2 = {"spec_id": 2, "fields": ["o_month", "prio_b"]}
        tuples = sorted(
            (r["o_month"], r["prio_b"])
            for r in orders.filter(F.col("o_month").between(10, 12))
            .select("o_month", "prio_b").distinct().collect()
        )
        for m, b in tuples:
            commit_append(
                orders.filter(
                    (F.col("o_month") == m) & (F.col("prio_b") == b)
                ).coalesce(1),
                tbl, stats_cols=("o_month", "prio_b"),
                extra={"partition_spec": spec2},
            )
        # reader: prune each file under the spec that wrote it — a
        # missing stat column means "this file's spec cannot prune on
        # that field", never "skip the file"
        head = current_version(tbl)
        manifest = read_manifest(tbl, head)
        fstats = manifest.get("file_stats", {})
        rows = []
        for probe_month, probe_b in ((2, 1), (11, 1)):
            scanned = []
            for f in manifest["files"]:
                st = fstats.get(f) or {}
                keep = True
                for col, val in (("o_month", probe_month), ("prio_b", probe_b)):
                    rng = st.get(col)
                    # guard BOTH bounds, matching point_lookup_plan: a
                    # one-sided stat must degrade to cannot-prune
                    if (
                        isinstance(rng, (list, tuple))
                        and rng[0] is not None
                        and rng[1] is not None
                    ):
                        if not (rng[0] <= val <= rng[1]):
                            keep = False
                            break
                if keep:
                    scanned.append(_entry_path(tbl, f))
            if not scanned:  # every file pruned: an exact zero result
                agg = {"n_scanned": 0, "n_matched": 0, "sum_cents": None}
            else:
                scan = spark.read.parquet(*scanned)
                agg = scan.agg(
                    F.count(F.lit(1)).cast("long").alias("n_scanned"),
                    F.sum(
                        ((F.col("o_month") == probe_month) & (F.col("prio_b") == probe_b))
                        .cast("long")
                    ).alias("n_matched"),
                    F.sum(
                        F.when(
                            (F.col("o_month") == probe_month)
                            & (F.col("prio_b") == probe_b),
                            F.col("cents"),
                        )
                    ).cast("long").alias("sum_cents"),
                ).collect()[0]
            rows.append(
                (
                    probe_month,
                    len(manifest["files"]),
                    len(scanned),
                    agg["n_scanned"],
                    agg["n_matched"],
                    agg["sum_cents"],
                )
            )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "probe_month int, n_files_total bigint, n_files_scanned bigint, "
        "n_rows_scanned bigint, n_rows_matched bigint, sum_cents bigint",
    ).orderBy("probe_month")


@query(
    "versioned_orphan_audit",
    oracle="""
    -- snapshot expiry WITH orphan-file detection (vacuum's audit
    -- half): a 4-commit lifecycle (snapshot A / append B / replacing
    -- snapshot C / append A-again) leaves files f1..f4 on disk with
    -- head = {f3, f4}; two planted crashed-writer files are
    -- referenced by NO manifest. File counts are structural — each
    -- commit writes exactly one coalesce(1) file (the entry asserts
    -- every slice is non-empty rather than assuming it) and exactly
    -- two orphans are planted — so under keep_last=2 (manifests v3,
    -- v4 retained) the audit must see: head 2, retained-only 0,
    -- expired 2 (f1, f2 — referenced only by dropped v1/v2), orphan
    -- 2; vacuum(keep_last=2, min_age=0) then reclaims all 4
    -- non-retained files + 2 manifests, and the post-audit is clean.
    -- Head row/cents totals are pure orders arithmetic (C + A).
    WITH scoped AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate
      FROM orders WHERE o_orderkey % 4 = 2
    ),
    a AS (SELECT * FROM scoped WHERE o_orderdate < DATE '1996-01-01'),
    c AS (SELECT * FROM scoped WHERE o_orderdate >= DATE '1997-01-01')
    SELECT CAST(6 AS BIGINT) AS pre_on_disk,
           CAST(2 AS BIGINT) AS pre_head,
           CAST(0 AS BIGINT) AS pre_retained,
           CAST(2 AS BIGINT) AS pre_expired,
           CAST(2 AS BIGINT) AS pre_orphan,
           CAST(4 AS BIGINT) AS data_files_removed,
           CAST(2 AS BIGINT) AS manifests_removed,
           CAST(2 AS BIGINT) AS post_on_disk,
           CAST(0 AS BIGINT) AS post_orphan,
           CAST((SELECT count(*) FROM c) + (SELECT count(*) FROM a)
                AS BIGINT) AS head_rows,
           CAST((SELECT sum(cents) FROM c) + (SELECT sum(cents) FROM a)
                AS BIGINT) AS head_cents
    """,
)
def versioned_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry with orphan-file DETECTION — the audit half
    vacuum alone doesn't give you: files on disk referenced by no
    manifest (a writer that crashed between staging its data files
    into ``data/`` and publishing its manifest commit) are invisible
    to readers, to time travel, AND to a reference-walking GC; only a
    disk-vs-manifest sweep (``orphan_report``) surfaces them. The
    lifecycle plants exactly that failure: 4 commits (snapshot,
    append, replacing snapshot, append) plus 2 crashed-writer files,
    audited under keep_last=2 — the report must classify head /
    retained / expired / orphan files exactly, vacuum must reclaim
    expired AND orphan files (min_age=0: single-writer test), and the
    post-expiry audit must be clean while the head read still returns
    the right rows. Every count is hash-gated.

    Scale shape: the audit is O(manifests + directory listing) driver
    arithmetic — no data file is opened; reclamation cost is O(dead
    files). CLI: ``--action orphan-report``."""
    import tempfile

    scoped = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 == 2
    ).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderdate",
    )
    a = scoped.filter(F.col("o_orderdate") < "1996-01-01").drop("o_orderdate")
    b = scoped.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).drop("o_orderdate")
    c = scoped.filter(F.col("o_orderdate") >= "1997-01-01").drop("o_orderdate")
    tbl = tempfile.mkdtemp(prefix="pim-vstore-orphan-")
    donor_root = None
    try:
        # the structural file counts in the oracle assume one file per
        # commit — assert the slices are non-empty instead of letting
        # an empty coalesce(1) write silently break the arithmetic
        # (round-7 ADVICE on versioned_partition_evolution's oracle)
        for name, df in (("a", a), ("b", b), ("c", c)):
            if df.limit(1).count() == 0:
                raise ValueError(f"orphan-audit slice {name!r} empty at {sf_dir}")
        commit_snapshot(a.coalesce(1), tbl, op="bootstrap")   # v1: f1
        commit_append(b.coalesce(1), tbl)                     # v2: f1,f2
        commit_snapshot(c.coalesce(1), tbl, op="replace")     # v3: f3
        commit_append(a.coalesce(1), tbl)                     # v4: f3,f4
        # plant the crash: two staged-but-never-committed data files
        data_dir = os.path.join(tbl, _DATA)
        donor_root = tempfile.mkdtemp(prefix="pim-orphan-donor-")
        donor = os.path.join(donor_root, "d")
        a.limit(5).coalesce(1).write.parquet(donor)
        part = next(
            f for f in os.listdir(donor) if f.endswith(".parquet")
        )
        for i in (1, 2):
            shutil.copy(
                os.path.join(donor, part),
                os.path.join(data_dir, f"v99-crashed-{i}.parquet"),
            )
        # min_age=0: single-writer test, same contract as the vacuum
        # call below (the planted "crashed" files are brand new; under
        # the default window they'd correctly classify in_flight)
        pre = orphan_report(tbl, keep_last=2, min_age_seconds=0)
        vac = vacuum(tbl, keep_last=2, min_age_seconds=0)
        post = orphan_report(tbl, keep_last=2, min_age_seconds=0)
        head = read_version(spark, tbl)
        agg = head.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        ).collect()[0]
        rows = [
            (
                pre["n_on_disk"],
                pre["counts"]["head"],
                pre["counts"]["retained"],
                pre["counts"]["expired"],
                pre["counts"]["orphan"],
                vac["data_files_removed"],
                vac["manifests_removed"],
                post["n_on_disk"],
                post["counts"]["orphan"],
                agg["n"],
                agg["s"],
            )
        ]
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
        if donor_root:
            shutil.rmtree(donor_root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "pre_on_disk bigint, pre_head bigint, pre_retained bigint, "
        "pre_expired bigint, pre_orphan bigint, data_files_removed bigint, "
        "manifests_removed bigint, post_on_disk bigint, post_orphan bigint, "
        "head_rows bigint, head_cents bigint",
    )


def _catalog_dir(path: str) -> str:
    return os.path.join(path, "_catalog")


def catalog_version(catalog_path: str) -> int:
    d = _catalog_dir(catalog_path)
    if not os.path.isdir(d):
        return 0
    vs = [
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    ]
    return max(vs, default=0)


def read_catalog_manifest(catalog_path: str, version: int | None = None) -> dict:
    v = catalog_version(catalog_path) if version is None else version
    if v == 0:
        raise FileNotFoundError(
            f"transaction catalog {catalog_path!r} has no committed snapshot"
        )
    with open(os.path.join(_catalog_dir(catalog_path), f"v{v:06d}.json")) as fh:
        return json.load(fh)


def txn_commit_tables(
    spark: SparkSession,
    catalog_path: str,
    writes: dict,
    op: str = "txn",
    merge_keys: Sequence[str] | None = None,
    order_col: str | None = None,
    expect_catalog_version: int | None = None,
) -> int:
    """Commit ``writes`` ({table_path: DataFrame}) as ONE atomic unit.

    Phase 1 commits each table normally (merge when keys are given,
    else full snapshot) — these versions exist but are not yet the
    CATALOG truth. Phase 2 publishes one catalog manifest pinning the
    new (table -> version) map via the same hardlink CAS as table
    commits. Readers that resolve through ``read_table_at`` can never
    observe table A at the new version with table B at the old one —
    cross-table snapshot isolation. A crash between the phases leaves
    the catalog on the previous consistent map (phase-1 versions are
    orphans the retry supersedes)."""
    # CAS base: the catalog snapshot this txn derives from is read
    # ONCE, up front — a concurrent publisher landing during phase 1
    # must collide at publish time, not silently re-base us.
    # ``expect_catalog_version`` pins it explicitly (the caller names
    # the snapshot it planned against — _commit's expect_parent shape).
    parent = (
        catalog_version(catalog_path)
        if expect_catalog_version is None
        else expect_catalog_version
    )
    prev = read_catalog_manifest(catalog_path, parent)["tables"] if parent else {}
    new_tables = dict(prev)
    for tbl, df in writes.items():
        key = os.path.abspath(tbl)
        if merge_keys:
            out = merge_files(spark, tbl, df, keys=list(merge_keys), order_col=order_col)
            new_tables[key] = out["version"]
        else:
            new_tables[key] = commit_snapshot(df, tbl, op=f"{op}-member")
    version = parent + 1
    d = _catalog_dir(catalog_path)
    os.makedirs(d, exist_ok=True)
    import time as _time

    manifest = {
        "version": version,
        "op": op,
        "tables": new_tables,
        "committed_at_unix": _time.time(),
    }
    tmp = os.path.join(d, f"v{version:06d}.json.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    try:
        os.link(tmp, os.path.join(d, f"v{version:06d}.json"))
    except FileExistsError as exc:
        raise CommitConflict(
            f"catalog v{version} of {catalog_path!r} was committed concurrently"
        ) from exc
    finally:
        os.unlink(tmp)
    return version


def read_table_at(
    spark: SparkSession, catalog_path: str, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a member table AT the version the catalog snapshot pins —
    the consistent-read contract: all tables resolved from one catalog
    version form a cross-table snapshot."""
    m = read_catalog_manifest(catalog_path, version)
    key = os.path.abspath(table_path)
    if key not in m["tables"]:
        raise KeyError(f"table {table_path!r} is not part of catalog {catalog_path!r}")
    return read_version(spark, table_path, m["tables"][key])


@query(
    "multi_table_transaction",
    oracle="""
    -- closed-form twin of the cross-table transaction: txn 1 writes
    -- the %9=4 order slice and its per-priority rollup; txn 2 merges
    -- the late (1997+) orders into BOTH, atomically. Catalog readers
    -- must see fact and rollup from the SAME txn: the fact count, the
    -- rollup's total (they must agree — the consistency invariant),
    -- and a flag proving a torn member commit (fact advanced without
    -- a catalog publish) stays invisible.
    WITH scoped AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 9 = 4
    )
    SELECT CAST(count(*) AS BIGINT) AS fact_rows,
           CAST(count(*) AS BIGINT) AS rollup_total,
           round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS fact_revenue,
           round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS rollup_revenue,
           TRUE AS torn_commit_invisible
    FROM scoped
    """,
)
def multi_table_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table atomic commit under the hash gate: a fact table and
    its rollup advance together through the transaction catalog; the
    consistency invariant (rollup totals == fact aggregates) holds at
    every catalog version BY CONSTRUCTION, and a deliberately torn
    member commit (fact merged, catalog not published) is invisible to
    catalog readers — the two-table drift window single-table commit
    logs cannot close."""
    import tempfile

    from pim_etl_spark.sources import load_table

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
        .filter(F.col("o_orderkey") % 9 == 4)
    )
    root = tempfile.mkdtemp(prefix="pim-txncat-")
    fact = os.path.join(root, "fact")
    rollup = os.path.join(root, "rollup")

    def rollup_of(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"),
        )

    try:
        early = orders.filter(F.col("o_orderdate") < "1997-01-01").drop("o_orderdate")
        late = orders.filter(F.col("o_orderdate") >= "1997-01-01").drop("o_orderdate")
        txn_commit_tables(
            spark, root, {fact: early, rollup: rollup_of(early)}, op="txn1"
        )
        full = early.unionByName(late)
        txn_commit_tables(
            spark, root, {fact: full, rollup: rollup_of(full)}, op="txn2"
        )
        # torn write: the fact table advances WITHOUT a catalog publish
        commit_snapshot(early.limit(3), fact, op="torn-orphan")

        f = read_table_at(spark, root, fact)
        r = read_table_at(spark, root, rollup)
        fa = f.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2).alias("s"),
        ).collect()[0]
        ra = r.agg(
            F.sum("n").cast("bigint").alias("n"),
            F.round(F.sum("rev"), 2).alias("s"),
        ).collect()[0]
        torn_invisible = (
            current_version(fact)
            > read_catalog_manifest(root)["tables"][os.path.abspath(fact)]
        )
        rows = [
            (fa["n"], ra["n"], float(fa["s"]), float(ra["s"]), torn_invisible)
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "fact_rows bigint, rollup_total bigint, fact_revenue double, "
        "rollup_revenue double, torn_commit_invisible boolean",
    )
