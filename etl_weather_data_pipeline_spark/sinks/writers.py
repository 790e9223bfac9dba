"""Batch sinks (SURVEY §2.2 K1-K9).

Parquet is the default store, partitioned by ``date`` — that replaces the
reference's five B-tree indexes (sql/schema.sql:71-77) with partition
pruning, which is the scan-reduction mechanism that actually works at
100 TB.

Upsert (K6): the reference does a per-row INSERT..ON CONFLICT loop
(src/load.py:386-426) — O(n) round-trips. Here it is ONE set-based merge.
Without Delta on the classpath the merge is emulated as
anti-join + union + staged write + per-partition directory rename: only
the partitions the batch touches are read or rewritten, and the old
data is never deleted before its replacement is durably written. Each
touched partition is rewritten as one file (AQE splits a partition
larger than the advisory partition size), and the inserted/updated
counts come from observations on that write, not from extra actions.
With Delta available, ``merge_upsert`` dispatches to a real MERGE INTO.
Semantics: whole-row update on key match (SURVEY §7.3 item 4).
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_weather_data_pipeline_spark.schemas import (
    LOAD_HISTORY_SCHEMA,
    QUALITY_METRICS_SCHEMA,
)

UPSERT_KEYS = ("city", "country", "timestamp")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1 — CSV sink with header."""
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2 — JSON-lines sink (ISO timestamps are Spark's default)."""
    df.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """K3/K4/K5 — parquet append/overwrite, optionally partitioned."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_parquet_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    num_files: int | None = None,
) -> None:
    """Parquet sink with data-skipping layout: range-partition then sort
    within partitions on ``sort_cols``, so each file and row group covers
    a narrow, mostly disjoint key range. Readers filtering on those
    columns then skip whole row groups via footer min/max stats — the
    poor man's Z-order, and the single biggest scan reducer for selective
    point/range queries after partition pruning. One extra range-exchange
    at write time buys it.

    ``num_files``: explicit output-file count; when omitted, AQE sizes
    the range exchange (and will coalesce small data to few files)."""
    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    out = out.sortWithinPartitions(*sort_cols)
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _swap_dirs(live: str, staged: str) -> None:
    """Replace directory ``live`` with ``staged`` via two renames.

    The original survives intact until ``staged`` is fully written; the
    only non-atomic window is between the two renames, where a crash
    leaves the complete old table at ``<live>.old-*`` (recover by renaming
    it back). At no point can both copies be lost — unlike an in-place
    ``mode=overwrite``, whose delete-then-write loses the table if the
    driver dies mid-write.
    """
    import os
    import shutil
    import uuid

    old = live.rstrip("/") + f".old-{uuid.uuid4().hex[:8]}"
    os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old)


def compact_parquet(
    spark: SparkSession,
    path: str,
    partition_by: Sequence[str] = (),
    target_file_mb: int = 128,
    zorder_by: Sequence[str] = (),
    zorder_bits: int = 16,
) -> dict[str, int]:
    """Small-file compaction — the maintenance op every streaming/upsert
    sink needs: micro-batches and per-partition overwrites accumulate
    files far below the scan-efficient size, and at 100 TB the scheduler
    drowns in file-open overhead before any byte is read.

    Sizing comes from the ACTUAL on-disk bytes: globally for flat tables,
    PER HIVE PARTITION for partitioned ones — a hot partition holding
    10 GB gets ceil(10 GB / target) output files/tasks, not one giant
    task+file (which would be the small-file problem's mirror image plus
    an executor OOM at scale). Buckets are assigned row-round-robin
    within each partition value and the rewrite is hash-distributed on
    (partition cols, bucket).

    Crash safety: the compacted table is staged to a sibling temp dir and
    swapped in with two renames (see :func:`_swap_dirs`) — the original
    is never deleted before the replacement is complete, and the staged
    write reads the live files directly (no localCheckpoint copy of the
    whole table through executor memory). Returns
    {"files_before": n, "files_after": m}.

    ``zorder_by``: for FLAT tables, rewrite clustered on the Morton
    interleave of the named columns (quantized via floor-and-clamp) —
    the OPTIMIZE ZORDER maintenance op: compaction is the natural time
    to fix layout, since the rewrite is already paying the full
    read+write. Output files are range-partitioned on the z-key (no
    global sort) and sorted within, so parquet footers are narrow in
    EVERY interleaved dimension. Not combinable with ``partition_by``
    (partition pruning already covers those columns; z-cluster a hive
    partition by compacting its directory as a flat table).
    """
    if zorder_by and partition_by:
        raise ValueError(
            "zorder_by applies to flat tables; compact a hive "
            "partition's directory directly to z-cluster inside it"
        )
    import glob
    import os
    import uuid

    # Open-time auto-recovery (r14): complete or sweep a prior
    # compaction's crash state before listing files — a crash between
    # _swap_dirs' two renames leaves the live dir missing with the
    # complete compacted copy staged, which recovery promotes; a
    # mid-staging crash leaves a garbage sibling, which it removes.
    rec = recover_staged_crash(path, staging_prefixes=(".compact-tmp-",))
    if rec["restored_live"] or rec["removed_stale_dirs"]:
        import warnings

        warnings.warn(
            f"compact_parquet: recovered prior crash state at {path}: "
            f"{rec}",
            stacklevel=2,
        )

    def _files(root: str) -> list[str]:
        return glob.glob(
            os.path.join(glob.escape(root), "**", "*.parquet"),
            recursive=True,
        )

    before = _files(path)
    target_bytes = target_file_mb * 1024 * 1024
    df = spark.read.parquet(path)
    if partition_by:
        # Per-partition-value byte totals from the hive directory layout.
        part_bytes: dict[tuple[str, ...], int] = {}
        for f in before:
            rel = os.path.relpath(os.path.dirname(f), path)
            vals = dict(seg.split("=", 1) for seg in rel.split(os.sep))
            key = tuple(vals[c] for c in partition_by)
            part_bytes[key] = part_bytes.get(key, 0) + os.path.getsize(f)
        pv_cols = [f"__pv_{c}" for c in partition_by]
        buckets = spark.createDataFrame(
            [k + (max(1, -(-b // target_bytes)),) for k, b in part_bytes.items()],
            pv_cols + ["__n_buckets"],
        )
        # Left join on hive-encoded string values; a value whose string
        # cast doesn't round-trip the hive encoding (url-escaped chars,
        # __HIVE_DEFAULT_PARTITION__) just falls back to 1 bucket — rows
        # are never dropped.
        cond = [
            df[c].cast("string") == F.col(p)
            for c, p in zip(partition_by, pv_cols)
        ]
        out = (
            df.join(F.broadcast(buckets), cond, "left")
            .withColumn(
                "__bucket",
                F.pmod(
                    F.monotonically_increasing_id(),
                    F.coalesce(F.col("__n_buckets"), F.lit(1)),
                ),
            )
            .drop(*pv_cols, "__n_buckets")
        )
        n_tasks = max(1, sum(max(1, -(-b // target_bytes)) for b in part_bytes.values()))
        out = out.repartition(
            n_tasks, *[F.col(c) for c in partition_by], F.col("__bucket")
        ).drop("__bucket")
    else:
        # ceil, matching the partitioned branch — floor would emit files
        # up to 2x the target (the giant-task problem sizing exists for)
        n_out = max(
            1, -(-sum(os.path.getsize(f) for f in before) // target_bytes)
        )
        if zorder_by:
            from etl_weather_data_pipeline_spark.operators.layout import (
                quantize_nonneg,
                zorder_key_multi,
            )

            # A single column has nothing to interleave — degenerate to
            # a plain clustered sort on the quantized key (what Delta's
            # one-column OPTIMIZE ZORDER effectively is).
            zkey = (
                quantize_nonneg(df[zorder_by[0]])
                if len(zorder_by) == 1
                else zorder_key_multi(
                    [quantize_nonneg(df[c]) for c in zorder_by],
                    zorder_bits,
                )
            )
            out = (
                df.withColumn("__zkey", zkey)
                .repartitionByRange(int(n_out), F.col("__zkey"))
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
        else:
            out = df.repartition(int(n_out))
    staged = path.rstrip("/") + f".compact-tmp-{uuid.uuid4().hex[:8]}"
    write_parquet(out, staged, "overwrite", partition_by)
    # Concurrent-append guard (r14, the compaction sibling of the
    # retrain's r11 lost-update guard): rows appended to the LIVE table
    # while the staged rewrite ran would be destroyed by the swap's
    # rmtree. This is DATA (not a rebuildable side table), and a
    # generic table has no key to dedupe a fold-in by — so the only
    # safe move is to ABORT loudly: drop the staged copy, keep the
    # original (which includes the concurrent rows) intact, and make
    # the caller re-run the compaction or pause writers. Zero false
    # positives under the documented single-writer discipline; the
    # race between this diff and the rename itself remains (same
    # residual window the retrain documents).
    late = sorted(set(_files(path)) - set(before))
    if late:
        import shutil

        shutil.rmtree(staged, ignore_errors=True)
        raise RuntimeError(
            f"compact_parquet: {len(late)} file(s) were appended to "
            f"{path} during the staged rewrite; compaction aborted with "
            "the original (appends included) intact — re-run it, or "
            "pause writers for a clean pass"
        )
    _swap_dirs(path, staged)
    return {"files_before": len(before), "files_after": len(_files(path))}


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """ORC sink — same contract as the parquet sink for warehouses that
    standardize on ORC (both are columnar with predicate pushdown and
    partition pruning; Spark supports them natively)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 64,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED catalog table — the co-location contract.

    Bucketing pre-shuffles the data once at write time: every later join
    or aggregate keyed on ``bucket_cols`` reads the table already hash-
    partitioned, so only the OTHER (small) side shuffles. This is the
    scale answer for any table probed repeatedly on the same key — e.g.
    a corpus fingerprint store probed by every incremental-ingest batch:
    without bucketing, each probe re-shuffles the multi-TB store; with
    it, each probe shuffles only the new batch (pinned in
    tests/test_properties.py::test_bucketed_store_probe_shuffles_batch_only).

    ``n_buckets`` sizes the parallelism floor for those reads — pick
    roughly (table size / healthy partition size); it cannot be changed
    without a rewrite, so size it for the table's TARGET scale, not its
    first day.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(
        int(n_buckets), *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def _list_parquet_files(root: str, rel_dirs: Sequence[str] | None) -> set:
    """Driver-side parquet file listing for the concurrent-append guards.

    ``rel_dirs=None`` lists the whole tree (flat tables, or a fallback
    when partition dir names can't be derived); otherwise only the named
    partition subdirectories are walked — the O(touched) form every
    batch-proportional caller should use (at 100 TB a full recursive
    glob is a single-threaded walk of millions of files; a daily batch
    touches a handful of date partitions).
    """
    import glob
    import os

    if rel_dirs is None:
        return set(
            glob.glob(
                os.path.join(glob.escape(root), "**", "*.parquet"),
                recursive=True,
            )
        )
    out: set = set()
    for rel in rel_dirs:
        out.update(
            glob.glob(
                os.path.join(glob.escape(os.path.join(root, rel)), "**", "*.parquet"),
                recursive=True,
            )
        )
    return out


def _hive_rel_dirs(
    part_cols: Sequence[str], part_rows: Sequence
) -> list[str] | None:
    """Relative hive partition dirs (``a=1/b=x``) for the batch's
    partition values, or None when any value needs hive escaping /
    special formatting (None, bools, url-escaped chars, …) — callers
    fall back to a full listing rather than risk a dir-name mismatch.
    A mismatch would only make the guard FAIL-OPEN (the dir's files drop
    out of both the before and after listings), but deriving only the
    provably-clean cases keeps the restriction exact.
    """
    import datetime
    import re

    safe = re.compile(r"[A-Za-z0-9._-]+\Z")
    rels = []
    for row in part_rows:
        segs = []
        for col, v in zip(part_cols, tuple(row)):
            if isinstance(v, bool) or not isinstance(
                v, (int, str, datetime.date)
            ):
                return None
            s = str(v)
            if not safe.match(s):
                return None
            segs.append(f"{col}={s}")
        rels.append("/".join(segs))
    return rels


def _delta_available(spark: SparkSession) -> bool:
    try:
        # Both the Python package and the JVM class must be present; py4j
        # attribute access never raises, so probe with a real classloader
        # lookup.
        from delta.tables import DeltaTable  # noqa: F401

        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: Sequence[str] = UPSERT_KEYS,
    partition_by: Sequence[str] = ("date",),
) -> dict[str, int]:
    """K6 — keyed whole-row upsert into a parquet/Delta table at ``path``.

    Emulated merge plan (no Delta), proportional to the BATCH, not the
    table: read only the partitions the batch touches (null-safe
    semi-join on the distinct partition values — at 100 TB a daily batch
    touches a handful of date partitions out of thousands) → anti-join
    away rows whose key collides with the batch → union the batch →
    stage the touched partitions to a sibling dir and swap them in with
    per-partition renames (crash-safety paragraph below). The staged
    write streams straight from the live files — the old data is never
    deleted before its replacement is durably on disk.

    Layout: both writes (fresh table and staged rewrite) carry a
    ``rebalance`` hint on the partition columns, so AQE writes ONE file
    per touched partition and splits a partition larger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` into several —
    the same bytes-based sizing as :func:`compact_parquet`. Re-touching
    a partition therefore replaces its files instead of adding to them.

    Actions: one batch aggregate (the contract check below, the batch
    row count and the distinct partition values) plus the write. The
    counts ride that write: observations on the touched rows and on the
    rows surviving the key anti-join give updated = touched − kept, and
    inserted = batch rows − updated.

    Contract: every partition column must be functionally dependent on the
    merge key (here date = date(timestamp), timestamp ∈ keys), so a key
    collision can never hide in an untouched partition. The batch side of
    the contract is CHECKED (by the batch aggregate, enforced on the
    fresh-table path too — the first batch must not seed key-violating
    rows): no two batch rows may share a key, no merge key may be NULL
    (SQL MERGE parity — an ON clause never matches NULL, so a NULL-keyed
    row would re-insert forever instead of updating), and with
    ``partition_by=()`` the merge falls back to the full-table path
    instead of a degenerate zero-column join. The existing-table side is
    the caller's schema-design invariant — checking it would require
    scanning untouched partitions, defeating the point. The partition
    semi-join is NULL-SAFE so a legitimately NULL partition VALUE (a
    nullable non-key partition column) keeps its existing rows: they
    ride ``kept`` into the staged ``__HIVE_DEFAULT_PARTITION__`` dir
    instead of being silently dropped by the swap.

    Crash safety: touched partitions are staged to a sibling temp dir and
    swapped in one directory-rename per partition. Untouched partitions
    are never read, written, or deleted; a crash mid-swap leaves each
    touched partition either old-complete or new-complete (recoverable by
    re-running the batch — the merge is idempotent), and never drops the
    rest of the table. Returns {"inserted": n, "updated": n}.
    """
    import glob
    import os
    import shutil
    import uuid

    keys = list(keys)
    parts = list(partition_by)
    if not _delta_available(spark):
        # Open-time auto-recovery (r14): sweep any crash state a prior
        # upsert left before deciding anything from the path. Ordering
        # matters — for a flat-table crash between the swap's two
        # renames the live dir is MISSING, and without recovery the
        # "re-run the batch" doctrine would take the fresh-write branch
        # below and silently replace the whole table with just this
        # batch. On a healthy table this is three globs. Single-writer
        # discipline still applies: another writer's LIVE staging dir
        # is indistinguishable from a crashed one and gets swept.
        rec = recover_staged_crash(path, staging_prefixes=(".upsert-tmp-",))
        if (
            rec["restored_live"]
            or rec["restored_partitions"]
            or rec["removed_stale_dirs"]
        ):
            import warnings

            warnings.warn(
                f"merge_upsert: recovered prior crash state at {path}: "
                f"{rec}; proceeding with the merge (idempotent re-runs "
                "converge)",
                stacklevel=2,
            )
        # Batch contract + everything else the merge needs from the
        # batch, in ONE batch-proportional action (enforced before the
        # fresh-table branch too — the first batch must not seed the
        # table with key-violating rows): the largest per-key group
        # (duplicate keys), a NULL-key flag, the row count (the
        # inserted/updated split) and the distinct partition values
        # (the touched-partition semi-join and the append guard's
        # dirs). Per key the partition struct is taken from any row:
        # a batch where it could differ has a duplicate key and raises.
        any_null_key = None
        for k in keys:
            c = F.col(k).isNull()
            any_null_key = c if any_null_key is None else (any_null_key | c)
        per_key = [F.count(F.lit(1)).alias("__n")]
        if parts:
            per_key.append(F.first(F.struct(*parts)).alias("__part"))
        stats = (
            df.groupBy(*keys)
            .agg(*per_key)
            .agg(
                F.max("__n").alias("max_dup"),
                F.max(any_null_key.cast("int")).alias("has_null_key"),
                F.coalesce(F.sum("__n"), F.lit(0)).alias("n_rows"),
                (
                    F.collect_set("__part") if parts else F.lit(None)
                ).alias("parts"),
            )
            .first()
        )
        if stats["has_null_key"]:
            raise ValueError(
                f"merge_upsert batch contains NULL in merge keys {keys}; "
                "a NULL key never equality-matches (SQL MERGE semantics), "
                "so the row would be re-inserted on every run — drop or "
                "repair such rows first"
            )
        if (stats["max_dup"] or 0) > 1:
            raise ValueError(
                f"merge_upsert batch contains duplicate rows for keys {keys}; "
                "dedup the batch first (last-write-wins is ambiguous here)"
            )
        n_rows = stats["n_rows"]
        # Both writes rebalance on the partition columns: one file per
        # touched partition, AQE-split when large (docstring, Layout).
        # Without it every task writes a file into every partition it
        # holds rows of.
        if not os.path.exists(path):
            write_parquet(df.hint("rebalance", *parts), path, "overwrite", parts)
            return {"inserted": n_rows, "updated": 0}
        if not n_rows:
            # nothing to merge; the table is already the merge result
            return {"inserted": 0, "updated": 0}
        # Concurrent-append guard snapshot (r14, same class as the
        # compaction's): taken BEFORE the `existing` read pins its own
        # listing, diffed just before the swap — files another writer
        # lands in a TOUCHED partition during the staged write would
        # otherwise ride the partition dir into the trash and be
        # removed with it. Only TOUCHED partitions ever swap, so for a
        # partitioned table both the snapshot and the diff walk only the
        # batch's partition dirs (derived from the stats row above) — a
        # full recursive glob here would be an O(all table files)
        # single-threaded driver walk per upsert, breaking the
        # proportional-to-the-BATCH contract at 100 TB.
        guard_dirs = None
        if parts:
            guard_dirs = _hive_rel_dirs(parts, stats["parts"])
        before_files = _list_parquet_files(path, guard_dirs)
        existing = spark.read.parquet(path)
        if parts:
            # NULL-SAFE semi-join: batch keys are non-null (contract
            # above), but a nullable NON-key partition column is legal —
            # plain equality would exclude the existing
            # __HIVE_DEFAULT_PARTITION__ rows from `kept` while the swap
            # still replaces that directory, silently destroying them.
            batch_parts = spark.createDataFrame(
                stats["parts"], df.select(*parts).schema
            )
            existing = existing.join(
                F.broadcast(batch_parts),
                [
                    existing[c].eqNullSafe(batch_parts[c])
                    for c in parts
                ],
                "left_semi",
            )
        # The inserted/updated split rides the staged write: two
        # observations count the touched rows and the rows that survive
        # the key anti-join, so updated = touched - kept with no extra
        # action. Batch keys are unique (contract above), so the anti-
        # join's broadcast side needs no distinct.
        touched_obs, kept_obs = Observation(), Observation()
        n = F.count(F.lit(1)).alias("n")
        existing = existing.observe(touched_obs, n)
        kept = existing.join(
            F.broadcast(df.select(*keys)), keys, "left_anti"
        ).observe(kept_obs, n)
        out = kept.select(*existing.columns).unionByName(
            df.select(*existing.columns)
        )
        staged = path.rstrip("/") + f".upsert-tmp-{uuid.uuid4().hex[:8]}"
        # The staged write streams from the live files — they are only
        # replaced after the new data is durably on disk.
        write_parquet(out.hint("rebalance", *parts), staged, "overwrite", parts)
        updated = touched_obs.get["n"] - kept_obs.get["n"]
        inserted = n_rows - updated

        def _abort_on_late(late: list[str]) -> None:
            # Same semantics as compact_parquet's guard: an upsert has
            # no way to fold a concurrent writer's rows in (they may
            # collide with the batch's own keys), so abort loudly with
            # the original — concurrent rows included — intact. The
            # merge is idempotent: re-running the same batch after the
            # abort converges.
            if late:
                shutil.rmtree(staged, ignore_errors=True)
                raise RuntimeError(
                    f"merge_upsert: {len(late)} file(s) were appended to "
                    f"{path} during the staged write; upsert aborted with "
                    "the original (appends included) intact — re-run the "
                    "batch, or pause writers for a clean pass"
                )

        if not parts:
            _abort_on_late(
                sorted(_list_parquet_files(path, None) - before_files)
            )
            _swap_dirs(path, staged)
            return {"inserted": inserted, "updated": updated}
        # Two renames per touched hive partition directory: old moves to a
        # trash dir OUTSIDE the table tree (an `.old` dir left inside it on
        # crash would be picked up by partition discovery), then the staged
        # replacement moves in. A crash leaves each partition old-complete
        # (still in live or in trash) or new-complete — never both gone.
        staged_parts = sorted(
            {
                os.path.relpath(os.path.dirname(f), staged)
                for f in glob.glob(
                    os.path.join(glob.escape(staged), "**", "*.parquet"),
                    recursive=True,
                )
            }
        )
        # Only TOUCHED partitions swap, so only their late files are at
        # risk; a concurrent append to an untouched (or brand-new)
        # partition survives untouched and is no reason to abort.
        _abort_on_late(
            sorted(
                f
                for f in _list_parquet_files(path, guard_dirs) - before_files
                if os.path.relpath(os.path.dirname(f), path) in staged_parts
            )
        )
        trash = path.rstrip("/") + f".upsert-old-{uuid.uuid4().hex[:8]}"
        for rel in staged_parts:
            dest = os.path.join(path, rel)
            src = os.path.join(staged, rel)
            if os.path.exists(dest):
                moved = os.path.join(trash, rel)
                os.makedirs(os.path.dirname(moved), exist_ok=True)
                os.rename(dest, moved)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(src, dest)
        shutil.rmtree(staged)
        shutil.rmtree(trash, ignore_errors=True)
        return {"inserted": inserted, "updated": updated}
    # Delta path: real MERGE INTO, whole-row WHEN MATCHED UPDATE SET *.
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, path):
        df.write.format("delta").partitionBy(*parts).save(path)
        return {"inserted": df.count(), "updated": 0}
    target = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (
        target.alias("t")
        .merge(df.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    return {"inserted": -1, "updated": -1}  # Delta doesn't expose counts here


# Every staged-rename protocol's sibling-dir prefix, in one place: each
# open-time recovery sweeps ALL of them (not just its caller's), which is
# what makes the promote-staged-on-missing-live rule SOUND across
# protocols. The proof "a missing live dir means the surviving staged
# copy is complete" holds per-protocol (only a swap removes live, and
# every swap runs after its staging finished) — but a stale INCOMPLETE
# staging dir left by a different protocol's mid-staging crash would
# break it if it could survive until a later missing-live state. With
# all-prefix sweeps at every open, at most the most-recent crashed run's
# dirs exist at any open, so any staged sibling seen next to a missing
# live dir is that run's completed staging. (Single-writer discipline
# per table is already the documented contract — a LIVE concurrent
# writer's staging dir was always indistinguishable from a crashed one.)
_ALL_STAGING_PREFIXES = (
    ".upsert-tmp-",  # merge_upsert
    ".compact-tmp-",  # compact_parquet
    ".staged-",  # retrain_ivf_index / recover_ivf_swap
    ".__staged__",  # streaming side-table bucketed rewrite
)


def recover_staged_crash(
    path: str,
    staging_prefixes: Sequence[str] = (".upsert-tmp-", ".compact-tmp-"),
) -> dict:
    """Table-open crash sweep for the staged-rename write protocol shared
    by :func:`merge_upsert`, :func:`compact_parquet`, and
    :func:`_swap_dirs`. A process death anywhere in a staged write leaves
    exactly one of these on-disk states, each recoverable from filesystem
    METADATA alone (no Spark session, no data-file reads, O(touched
    partitions) renames at any table size):

    - live table intact + a staging sibling (``<path>.upsert-tmp-*`` /
      ``<path>.compact-tmp-*``): the crash hit during or right after the
      staged write, before any rename. Staging completeness is
      unverifiable in this state, so the staged dir is garbage by
      contract — remove it; the caller re-runs the batch (the merge is
      idempotent, the compaction a pure rewrite).
    - a touched hive partition missing from live, its old copy in a
      ``<path>.upsert-old-*`` trash sibling: the crash hit between that
      partition's two renames. Restore the trash copy (the old-complete
      guarantee — a dest only goes missing AFTER its old copy reached
      the trash), then re-run the batch.
    - the live dir itself missing (a flat-table ``_swap_dirs`` crash
      between its two renames): restore the newest-by-mtime staging
      sibling when one survives — the first rename only ever happens
      after staging completed, so a missing live PROVES the staged copy
      is complete, and preferring it finishes the swap (the same
      staged-wins rule as retrain_ivf_index's in-process self-heal) —
      else the complete old copy at ``<path>.old-*``. The completeness
      proof is cross-protocol because every open sweeps every protocol's
      staging prefix (see ``_ALL_STAGING_PREFIXES``): a foreign
      protocol's stale mid-staging garbage cannot survive to be
      mis-promoted here.
    - nothing restorable from any of the above (``action:
      "unrecoverable"``): NOTHING is swept — whatever siblings exist
      (e.g. partition trash a vanished live dir orphaned) are the only
      surviving copies, and deleting them would turn "needs manual
      recovery" into permanent loss.

    Whichever copy a state restores, re-running the idempotent merge
    converges the table to the exact clean-run content — pinned end-to-end
    by the ``corpus_crash_recovery_audit`` lifecycle query and
    ``tests/test_pipeline.py``. Always removes every leftover
    staging/trash sibling (they live OUTSIDE the table tree, so reads
    were never polluted; the sweep reclaims space and makes reruns
    unambiguous). Returns ``{"action": "clean" | "restored_partitions" |
    "completed_swap" | "restored_old" | "unrecoverable",
    "restored_live": 0|1, "restored_partitions": r,
    "removed_stale_dirs": m}``.

    Reference parity: src/load.py:371-486 leans on the database's own
    crash safety for its upsert; the parquet emulation must supply the
    equivalent at open time.
    """
    import glob
    import os
    import shutil

    base = path.rstrip("/")
    # glob.escape: a table path containing glob metachars ([, *, ?) must
    # still recover — an unescaped pattern would silently match nothing
    # and leave every crash state (and its data) unrestored.
    gbase = glob.escape(base)

    def _staging_dirs() -> list[str]:
        prefixes = dict.fromkeys((*staging_prefixes, *_ALL_STAGING_PREFIXES))
        return sorted(
            {d for p in prefixes for d in glob.glob(gbase + p + "*")}
        )

    restored_live = 0
    restored_partitions = 0
    if not os.path.isdir(base):
        staged = _staging_dirs()
        olds = sorted(glob.glob(gbase + ".old-*"))
        if staged:
            os.rename(max(staged, key=os.path.getmtime), base)
            action, restored_live = "completed_swap", 1
        elif olds:
            os.rename(max(olds, key=os.path.getmtime), base)
            action, restored_live = "restored_old", 1
        else:
            # Nothing to restore a live dir from — and therefore nothing
            # safe to delete either: sweep NOTHING (siblings like
            # partition trash may be the only surviving copies).
            return {
                "action": "unrecoverable",
                "restored_live": 0,
                "restored_partitions": 0,
                "removed_stale_dirs": 0,
            }
    else:
        action = "clean"
        for trash in sorted(glob.glob(gbase + ".upsert-old-*")):
            rels = sorted(
                {
                    os.path.relpath(os.path.dirname(f), trash)
                    for f in glob.glob(
                        os.path.join(glob.escape(trash), "**", "*.parquet"),
                        recursive=True,
                    )
                }
            )
            for rel in rels:
                dest = os.path.join(base, rel)
                if rel != "." and not os.path.exists(dest):
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(os.path.join(trash, rel), dest)
                    restored_partitions += 1
        if restored_partitions:
            action = "restored_partitions"
    removed = 0
    for d in {
        *_staging_dirs(),
        *glob.glob(gbase + ".old-*"),
        *glob.glob(gbase + ".upsert-old-*"),
    }:
        if os.path.exists(d):
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return {
        "action": action,
        "restored_live": restored_live,
        "restored_partitions": restored_partitions,
        "removed_stale_dirs": removed,
    }


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    hash_family: str = "xxhash64",
    checksum_col: str | None = "text",
    files_per_shard: int = 1,
) -> DataFrame:
    """Deterministic training-shard export: hash-shard the corpus and
    write one parquet partition per shard plus a content manifest.

    Training jobs consume fixed shards; a shard must contain the SAME
    rows on every re-export (hash of the row key, never round-robin or
    RNG — repartitioning or corpus append must not move old rows between
    shards). The manifest (written to ``<path>/_manifest`` — the
    underscore prefix hides it from parquet directory discovery) carries
    per-shard row counts and an order-independent bit_xor content
    checksum so a consumer can verify a shard without re-reading the
    corpus. Returns the manifest DataFrame.

    Scale: the shard column is a map-side expression; the write shuffles
    once on (shard, sub-bucket) before partitionBy, so files stay
    few-per-shard instead of n_tasks fragments.

    ``files_per_shard``: parallelism WITHIN a shard's write. The default
    1 makes each shard exactly one task's output — fine for small
    exports, but at 100 TB / 8 shards that is a 12.5 TB single-task
    file. Raising it sub-buckets each shard by a SECOND deterministic
    hash of the key (seeded differently, so it is independent of the
    shard hash) and shuffles on (shard, sub) — row→shard assignment,
    shard contents, and manifest checksums are IDENTICAL for every
    value of ``files_per_shard``; only the file layout inside each
    shard directory changes. (Hash collisions across (shard, sub)
    combos mean a shard dir may hold slightly fewer files than
    requested; never more.)
    """
    from etl_weather_data_pipeline_spark.operators.sampling import (
        hash_bucket,
    )

    assert files_per_shard >= 1, files_per_shard
    shard = hash_bucket(
        F.col(key_col), n_shards, hash_family=hash_family
    ).cast("long")
    sharded = df.withColumn("shard", shard)
    sub = hash_bucket(
        F.concat(F.lit("sub:"), F.col(key_col).cast("string")),
        files_per_shard,
        hash_family=hash_family,
    )
    (
        sharded.withColumn("__sub", sub)
        .repartition(n_shards * files_per_shard, "shard", "__sub")
        .drop("__sub")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    checksum = (
        F.bit_xor(F.xxhash64(F.col(checksum_col)))
        if checksum_col is not None
        else F.bit_xor(F.xxhash64(F.col(key_col).cast("string")))
    )
    # The manifest reads back the WRITTEN shards, not the source frame:
    # a second action over `sharded` would re-evaluate the whole corpus
    # subtree (the 2+-consumer rule), persisting it at 100 TB is not an
    # option, and checksumming what is actually on disk is the stronger
    # audit anyway. `shard` returns as the hive partition column (int by
    # inference) — cast back to long to keep the manifest schema stable.
    manifest = (
        sharded.sparkSession.read.parquet(path)
        .groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            checksum.alias("content_checksum"),
        )
    )
    manifest.write.mode("overwrite").parquet(f"{path}/_manifest")
    return manifest


def _append_row(
    spark: SparkSession, schema: StructType, values: Sequence, path: str
) -> None:
    """Append ONE row to a parquet table as ONE file. The row is a
    literal projection over a single-partition range: a one-row
    ``createDataFrame`` list spreads over every default slice, and the
    writer then leaves an empty file for slice 0 beside the row's own.
    The casts are one SQL select, not a ``Column.cast`` per field, which
    would cost ~20 py4j round trips per field."""
    spark.range(0, 1, 1, 1).select(*[F.lit(v) for v in values]).toDF(
        *schema.names
    ).selectExpr(
        *[
            f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in schema.fields
        ]
    ).write.mode("append").parquet(path)


def append_quality_metrics(
    spark: SparkSession, metrics_row: dict, path: str
) -> None:
    """K7 — append one row to the data_quality_metrics table."""
    row = dict(metrics_row)
    row.setdefault("load_timestamp", datetime.now(timezone.utc).replace(tzinfo=None))
    _append_row(
        spark,
        QUALITY_METRICS_SCHEMA,
        [row.get(f.name) for f in QUALITY_METRICS_SCHEMA.fields],
        path,
    )


def append_load_history(
    spark: SparkSession,
    path: str,
    records_loaded: int,
    records_updated: int = 0,
    records_failed: int = 0,
    duration_s: float = 0.0,
    status: str = "success",
    error_message: str | None = None,
    source_info: str | None = None,
) -> None:
    """K8 — append one row to load_history (written even on failure,
    reference src/load.py:526-554)."""
    _append_row(
        spark,
        LOAD_HISTORY_SCHEMA,
        [
            records_loaded,
            records_updated,
            records_failed,
            duration_s,
            status,
            error_message,
            source_info,
            datetime.now(timezone.utc).replace(tzinfo=None),
        ],
        path,
    )


class Stopwatch:
    """Tiny timer for load_duration_seconds (reference src/load.py:300-301)."""

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.seconds = time.monotonic() - self.t0
