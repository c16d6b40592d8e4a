"""Manifest-based copy-on-write table format over plain parquet.

The transactional half of MERGE that q_merge_upsert (plans/relational.py)
deliberately stops short of: Delta/Iceberg-style snapshot isolation
rebuilt from first principles on nothing but parquet files + JSON
manifests (the public Iceberg spec's core mechanic — a table IS its
manifest, commits ARE pointer swaps — without the libraries, which this
container does not ship).

Layout under a table root::

    data/<pcol>=<val>/v{N}-<uuid>-<name>.parquet   immutable data files
    _manifests/v{N:05d}.json                       snapshot N's file list
    _manifests/_latest                             pointer (atomic swap)

Guarantees, and why they hold at 100 TB:

* **Copy-on-write is partition-selective.** A merge rewrites ONLY the
  partitions the source touches; every other partition's files are
  carried forward by path in the new manifest, never re-read, never
  re-written (tests/test_lakehouse.py asserts byte-identity). Cost is
  O(touched data), not O(table).
* **Manifest-side partition pruning.** Readers prune the file list on
  the DRIVER from manifest metadata before Spark ever plans a scan —
  at 100 TB the planner sees 1 partition's files, not a 10M-file
  listing (the same win Iceberg gets over Hive listings).
* **Atomic commits.** A snapshot's manifest is written whole to a temp
  name and ``os.replace``d; the ``_latest`` pointer swap is the commit
  point (POSIX-atomic; on an object store this maps to a CAS on the
  pointer object). Readers resolve the pointer once, then read an
  immutable file set — single-writer serializable snapshot isolation.
* **Time travel is free.** Every snapshot's manifest is retained;
  ``read_table(..., version=N)`` reads any historical state with zero
  extra storage beyond the rewritten partitions.

Only driver-side work here is manifest bookkeeping (file lists — KB to
MB scale); all data movement is DataFrame writes/reads.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFESTS = "_manifests"
_DATA = "data"
# Hive's on-disk name for the NULL partition. Spark does NOT escape
# this marker when a real string value equals it — such a row lands in
# the NULL directory and reads back NULL (r10 partition-value probe,
# SCALE.md). The lake therefore RESERVES the literal: writes reject it
# loudly instead of corrupting silently.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_LATEST = "_latest"


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFESTS, f"v{version:05d}.json")


def _atomic_write(path: str, text: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)  # the commit point


def latest_version(root: str) -> int:
    with open(os.path.join(root, _MANIFESTS, _LATEST)) as f:
        return int(f.read().strip())


def load_manifest(root: str, version: int | None = None) -> dict:
    if version is None:
        version = latest_version(root)
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def footer_min_max(md, col: str):
    """``(min, max)`` of ``col`` folded over every row group of a
    parquet footer ``md`` — no data pages read. None when the column
    is absent, the file has no row groups, or any row group lacks exact
    min/max: the caller must not guess a bound then."""
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if col not in idx or md.num_row_groups == 0:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        s = md.row_group(rg).column(idx[col]).statistics
        if s is None or not s.has_min_max:
            return None
        lo = s.min if lo is None else min(lo, s.min)
        hi = s.max if hi is None else max(hi, s.max)
    return lo, hi


def _file_stats(path: str, cols: list[str]) -> tuple[int, dict]:
    """(row_count, {col: [min, max]}) from the parquet FOOTER — no data
    pages read. The same stats Iceberg keeps per data file; written
    into the manifest so readers can skip files driver-side."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict = {}
    for c in cols:
        mm = footer_min_max(md, c)
        # The manifest is JSON, so only JSON-native stat values are
        # recorded — pyarrow returns bytes for binary-physical columns
        # and datetime.date / datetime.datetime / Decimal for date,
        # timestamp, and decimal logical types, all of which json.dumps
        # rejects. A skipped stat only disables file-skipping for that
        # column, never correctness.
        if mm is not None and all(
            isinstance(v, (int, float, str, bool)) for v in mm
        ):
            stats[c] = list(mm)
    return md.num_rows, stats


def _stage_and_collect(
    df: DataFrame,
    root: str,
    pcol: str,
    version: int,
    stats_cols: list[str] | None = None,
) -> list[dict]:
    """Write df partitioned by pcol to a stage dir, then move the files
    into data/<pcol>=<val>/ under version-prefixed unique names.
    Returns manifest file entries (with per-file footer stats for
    ``stats_cols``). The move is a same-filesystem rename (no copy);
    on an object store this step is a multipart-commit."""
    # Law 50 (r8 grand fuzz arm): a Hive-layout partition PATH cannot
    # carry the NULL-vs-''-distinction — Spark writes '' as
    # __HIVE_DEFAULT_PARTITION__ and partition discovery reads it back
    # NULL (probed; Hive and Delta share the layout and the
    # collapse). The lake contract therefore normalizes empty-string
    # partition keys to NULL AT THE WRITE BOUNDARY, explicitly, and
    # the family's oracles state the same NULLIF — a declared mutual
    # law (the partition-column twin of law 44's CSV carve-out)
    # instead of one engine inheriting the collapse silently from the
    # physical layout.
    from pyspark.sql.types import StringType

    if isinstance(df.schema[pcol].dataType, StringType):
        df = df.withColumn(pcol, F.nullif(F.col(pcol), F.lit("")))
        # Reserved marker (r10 probe): a DATA value equal to Hive's
        # NULL-directory name is unrepresentable in the layout — Spark
        # writes it unescaped into the same directory NULL uses and
        # discovery reads it back NULL. '' has a declared NULL
        # equivalence (law 50); the marker literal does NOT — it is a
        # real string silently becoming NULL, a corruption class, so
        # the write fails loudly. The guard rides INSIDE the write's
        # own job as an always-true filter over assert_true (NULL-safe
        # via the isNull disjunct) — zero extra passes; the first
        # draft's pre-write limit-1 probe re-ran the staged plan's
        # whole lineage, which at 100 TB doubles the merge compute
        # (and cost a visible +0.25 s on q_lake_delete/compact at
        # sf0.1). assert_true returns NULL when it passes, so the
        # .isNull() filter keeps every row and the optimizer cannot
        # prune the check expression away.
        df = df.where(
            F.assert_true(
                F.col(pcol).isNull() | (F.col(pcol) != F.lit(_HIVE_NULL)),
                F.lit(
                    f"partition column {pcol!r} carries the reserved "
                    f"Hive NULL marker {_HIVE_NULL!r} as a data value; "
                    f"the Hive layout cannot represent it (it would "
                    f"read back as NULL)"
                ),
            ).isNull()
        )
    stage = os.path.join(root, f"_stage-{uuid.uuid4().hex}")
    df.write.partitionBy(pcol).mode("overwrite").parquet(stage)
    entries: list[dict] = []
    for part_dir in sorted(os.listdir(stage)):
        if not part_dir.startswith(f"{pcol}="):
            continue  # _SUCCESS etc.
        pval = unquote(part_dir.split("=", 1)[1])
        dest_dir = os.path.join(root, _DATA, part_dir)
        os.makedirs(dest_dir, exist_ok=True)
        for fname in sorted(os.listdir(os.path.join(stage, part_dir))):
            if not fname.endswith(".parquet"):
                continue
            new_name = f"v{version}-{uuid.uuid4().hex[:8]}-{fname}"
            dest = os.path.join(dest_dir, new_name)
            os.replace(os.path.join(stage, part_dir, fname), dest)
            rows, stats = _file_stats(dest, stats_cols or [])
            entries.append(
                {
                    "path": f"{_DATA}/{part_dir}/{new_name}",
                    "partition": pval,
                    "rows": rows,
                    "stats": stats,
                }
            )
    shutil.rmtree(stage, ignore_errors=True)
    return entries


def _commit(root: str, version: int, manifest: dict) -> None:
    _atomic_write(_manifest_path(root, version), json.dumps(manifest, indent=1))
    _atomic_write(os.path.join(root, _MANIFESTS, _LATEST), str(version))


def _read_shape_schema(df: DataFrame, pcol: str) -> dict:
    """The table schema as JSON, normalized to the shape every
    NON-EMPTY read returns: partition column LAST (partitionBy drops it
    from the data files and partition discovery appends it), every
    field nullable (parquet read-back always is). Stored in the
    manifest so the zero-data-file fallback read is schema-IDENTICAL
    to a populated read — without the normalization, a table whose
    partition column was not the writer's last column had different
    column order (and nullability) between its empty and non-empty
    snapshots (r8 review pass)."""
    from pyspark.sql.types import StructField, StructType

    fields = [
        StructField(f.name, f.dataType, nullable=True)
        for f in df.schema.fields
        if f.name != pcol
    ] + [
        StructField(f.name, f.dataType, nullable=True)
        for f in df.schema.fields
        if f.name == pcol
    ]
    return json.loads(StructType(fields).json())


def create_table(
    df: DataFrame,
    root: str,
    partition_col: str,
    stats_cols: list[str] | None = None,
) -> int:
    """Initialize a table at ``root`` as snapshot 0 of ``df``.
    ``stats_cols``: columns whose per-file footer min/max get recorded
    in every manifest (a table property — all later commits keep
    collecting them), enabling driver-side file skipping on read."""
    os.makedirs(os.path.join(root, _MANIFESTS), exist_ok=True)
    os.makedirs(os.path.join(root, _DATA), exist_ok=True)
    ptype = dict(df.dtypes)[partition_col]
    files = _stage_and_collect(df, root, partition_col, 0, stats_cols)
    _commit(
        root,
        0,
        {
            "version": 0,
            "parent": None,
            "partition_col": partition_col,
            "partition_type": ptype,
            "stats_cols": stats_cols or [],
            # The table schema lives in table METADATA, not only in data
            # file footers — the Delta/Iceberg design point that makes an
            # EMPTY table (or an empty commit) first-class: at scale an
            # incremental batch can legitimately be empty, and seeding a
            # pipeline's output table before any data arrives is normal.
            # read_table falls back to this when a snapshot has no files;
            # normalized to the read-back shape (see _read_shape_schema).
            "schema": _read_shape_schema(df, partition_col),
            "files": files,
        },
    )
    return 0


def read_table(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partitions: list | None = None,
    between: tuple | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read snapshot ``version`` (default: latest). ``partitions``
    prunes the file list driver-side from manifest metadata — the scan
    Spark plans never sees the pruned files at all. ``between=(col,
    lo, hi)`` additionally skips files whose recorded footer [min,max]
    for ``col`` cannot intersect [lo, hi] — FILE pruning only: callers
    still apply the row-level predicate (a kept file may hold rows
    outside the range). Files without recorded stats are kept."""
    m = load_manifest(root, version)
    files = m["files"]
    if partitions is not None:
        want = {str(p) for p in partitions}
        files = [f for f in files if str(f["partition"]) in want]
    if between is not None:
        col, lo, hi = between
        files = [
            f
            for f in files
            if col not in f.get("stats", {})
            or not (f["stats"][col][1] < lo or f["stats"][col][0] > hi)
        ]
    pcol, ptype = m["partition_col"], m["partition_type"]
    empty_selection = False
    if not files:
        # A pruned-to-nothing selection is legitimate (an all-INSERT
        # merge whose source partitions are new to the table; a CDF
        # read over a churn-free interval). Read the FULL snapshot's
        # file list and filter to lit(False): Catalyst's
        # PropagateEmptyRelation folds the scan away, so no data pages
        # are ever read — this is a schema-only operation.
        files = m["files"]
        empty_selection = True
        if not files:
            # A snapshot with ZERO data files (empty table seed, or a
            # delete that emptied every partition) — the schema comes
            # from the manifest, the Delta/Iceberg design point (see
            # create_table). Legacy manifests without a recorded schema
            # keep the loud error.
            if m.get("schema") is not None:
                from pyspark.sql.types import StructType

                return spark.createDataFrame(
                    [], StructType.fromJson(m["schema"])
                )
            raise ValueError(
                f"table at {root} has no data files in version={m['version']}"
            )
    paths = [os.path.join(root, f["path"]) for f in files]
    reader = spark.read.option("basePath", os.path.join(root, _DATA))
    if merge_schema:
        # Schema evolution: a later commit may have ADDED columns, and
        # carried-forward files predate them. mergeSchema unions the
        # file footers (extra footer read per file — opt-in) and fills
        # missing columns with NULL, the standard parquet
        # add-column-with-null-default evolution Delta/Iceberg expose.
        # Dropping/renaming/retyping would need column-id indirection
        # in the manifest — out of scope, as is Iceberg's.
        reader = reader.option("mergeSchema", "true")
    elif m.get("schema") is not None:
        # Explicit schema from the manifest (r13, guide §6 — the same
        # fix the streaming sink read-backs got in r12): the manifest
        # records the exact read-back shape (_read_shape_schema:
        # partition column last, all nullable), so the footer-
        # inference pass — one driver-side job per read_table call,
        # and q_stream_upsert calls this once per micro-batch merge —
        # is pure overhead. This is the table-metadata-is-the-schema
        # design point Delta/Iceberg readers use. Legacy manifests
        # without a recorded schema keep the inference path.
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(m["schema"]))
    df = reader.parquet(*paths)
    # Partition-dir inference types the column from path strings; cast
    # back to the declared type so snapshots round-trip schema-stable.
    df = df.withColumn(pcol, F.col(pcol).cast(ptype))
    if empty_selection:
        df = df.where(F.lit(False))
    return df


def changed_partitions(root: str, from_v: int, to_v: int) -> list:
    """Partition values whose file sets differ between two snapshots —
    pure manifest metadata, no data read. The incremental-consumption
    primitive: at 100 TB a downstream consumer reads ONLY these
    partitions' files, never the table."""
    a = load_manifest(root, from_v)
    b = load_manifest(root, to_v)

    def by_part(m):
        d: dict[str, set] = {}
        for f in m["files"]:
            d.setdefault(str(f["partition"]), set()).add(f["path"])
        return d

    pa, pb = by_part(a), by_part(b)
    return sorted(
        p for p in set(pa) | set(pb) if pa.get(p, set()) != pb.get(p, set())
    )


def vacuum(root: str, keep_last: int = 2) -> dict:
    """GC: delete data files referenced by NO retained manifest, and
    the manifests older than the newest ``keep_last`` versions.
    Returns {"removed_files": n, "removed_manifests": n}. Safe order:
    first stop referencing (drop old manifests), then delete
    unreferenced data — a reader holding the latest pointer never sees
    a missing file. (Concurrent readers of a *dropped* historical
    version race with vacuum exactly as in Delta/Iceberg VACUUM; the
    retention window is the contract.)"""
    latest = latest_version(root)
    keep = set(range(max(0, latest - keep_last + 1), latest + 1))
    removed_manifests = 0
    mdir = os.path.join(root, _MANIFESTS)
    for name in sorted(os.listdir(mdir)):
        if name.startswith("v") and name.endswith(".json"):
            v = int(name[1:-5])
            if v not in keep:
                os.remove(os.path.join(mdir, name))
                removed_manifests += 1
    referenced = set()
    for v in keep:
        referenced.update(f["path"] for f in load_manifest(root, v)["files"])
    removed_files = 0
    ddir = os.path.join(root, _DATA)
    for part_dir in os.listdir(ddir):
        pdir = os.path.join(ddir, part_dir)
        for fname in os.listdir(pdir):
            rel = f"{_DATA}/{part_dir}/{fname}"
            if rel not in referenced:
                os.remove(os.path.join(pdir, fname))
                removed_files += 1
    return {"removed_files": removed_files, "removed_manifests": removed_manifests}


def read_changes(
    spark: SparkSession,
    root: str,
    key_col: str,
    value_cols: list[str],
    from_v: int,
    to_v: int,
) -> DataFrame:
    """Incremental changeset (I/U/D + old/new values) between two
    snapshots — the lakehouse twin of q_cdc_diff, driven entirely by
    manifest metadata: only partitions whose FILES changed are read
    (on either side), so the scan and the join are O(churn), not
    O(table). Returns (key, op, old_<v>.., new_<v>..)."""
    parts = changed_partitions(root, from_v, to_v)
    old = read_table(spark, root, version=from_v, partitions=parts)
    new = read_table(spark, root, version=to_v, partitions=parts)
    # Explicit presence markers — value columns may legitimately be
    # NULL, so null-ness of a value must not stand in for row absence.
    o = old.select(
        F.col(key_col).alias("k"),
        F.lit(True).alias("in_old"),
        *[F.col(c).alias(f"old_{c}") for c in value_cols],
    )
    n = new.select(
        F.col(key_col).alias("k"),
        F.lit(True).alias("in_new"),
        *[F.col(c).alias(f"new_{c}") for c in value_cols],
    )
    j = o.join(n, "k", "full_outer")
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    return j.where(
        F.col("in_old").isNull() | F.col("in_new").isNull() | changed
    ).select(
        F.col("k").alias(key_col),
        F.when(F.col("in_new").isNull(), F.lit("D"))
        .when(F.col("in_old").isNull(), F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        *[F.col(f"old_{c}") for c in value_cols],
        *[F.col(f"new_{c}") for c in value_cols],
    )


def merge_cow(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    merge_fn,
) -> int:
    """Copy-on-write MERGE: ``merge_fn(target_touched, source) ->
    merged`` supplies the row-level semantics (the full-outer-join
    conditional-project of q_merge_upsert); this function supplies the
    transaction. Source rows must carry the table's partition column —
    the distinct source partitions define the touched set.

    Steps: (1) touched = source partitions (tiny driver collect — one
    value per touched partition, NOT per row); (2) read ONLY the
    touched partitions' files (manifest-pruned); (3) write the merged
    replacement partitions as new immutable files; (4) commit a new
    manifest = untouched files carried forward + new files, then swap
    the pointer. Crash before (4) leaves stale orphan files but a
    consistent table (old pointer); a vacuum can GC unreferenced files.
    """
    prev = load_manifest(root)
    pcol = prev["partition_col"]
    version = prev["version"] + 1
    touched = [r[0] for r in source.select(pcol).distinct().collect()]
    # A NULL partition value lands on disk (and in the manifest) as
    # Hive's __HIVE_DEFAULT_PARTITION__ directory; normalize the
    # touched set to that marker so (a) the touched-partition read
    # actually selects the table's existing NULL-partition files and
    # (b) the stray-partition check doesn't spuriously reject the
    # staged NULL partition as 'None' ∉ want (review r6). Empty-string
    # keys normalize the same way: _stage_and_collect rewrites '' to
    # NULL at the write boundary (law 50 — Hive path syntax cannot
    # distinguish '' from NULL), so a ''-carrying source would stage
    # under the marker while want held '' and the stray check would
    # fail loudly on a legitimate merge (r8 ADVICE).
    # dict.fromkeys dedupe (order-preserving, no cross-type sort — int
    # partition values coexist with the str marker): a source carrying
    # BOTH NULL and '' rows collapses to ONE marker entry, else the
    # touched-partition read would list the NULL-partition files twice
    # and duplicate their rows.
    touched = list(
        dict.fromkeys(
            _HIVE_NULL if t is None or t == "" else t for t in touched
        )
    )
    target_touched = read_table(
        spark, root, version=prev["version"], partitions=touched
    )
    merged = merge_fn(target_touched, source)
    new_files = _stage_and_collect(
        merged, root, pcol, version, prev.get("stats_cols") or []
    )
    want = {str(t) for t in touched}
    # merge_fn must not move rows into partitions outside the touched
    # set: those partitions' old files are carried forward unreplaced,
    # so extra merged files there would commit duplicate rows. Checked
    # from the staged manifest entries (no extra Spark job); failing
    # before _commit leaves orphan stage files but a consistent table.
    stray = sorted({str(f["partition"]) for f in new_files} - want)
    if stray:
        raise ValueError(
            f"merge_fn produced rows in untouched partitions {stray}; "
            f"touched set from source was {sorted(want)}"
        )
    carried = [f for f in prev["files"] if str(f["partition"]) not in want]
    _commit(
        root,
        version,
        {
            "version": version,
            "parent": prev["version"],
            "partition_col": pcol,
            "partition_type": prev["partition_type"],
            "stats_cols": prev.get("stats_cols") or [],
            # A merge's output schema is the table's new schema (the
            # mergeSchema read path NULL-fills carried-forward files);
            # normalized to the read-back shape (see _read_shape_schema).
            "schema": _read_shape_schema(merged, pcol),
            "files": carried + new_files,
        },
    )
    return version


def compact(
    spark: SparkSession,
    root: str,
    partitions: list | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """Bin-pack each selected partition's files into ONE file and
    commit as a new snapshot — the small-file maintenance pass every
    streaming-ingested table needs (at 100 TB, footer+task overhead of
    millions of KB-files dominates scan time long before data volume
    does). The rewrite hash-distributes rows by the partition column
    across one task per partition (each dir's rows land in exactly one
    task → exactly one output file), so compaction parallelism scales
    with partition count. Pure rewrite: logical content is unchanged
    (test-asserted), untouched partitions carry forward by path, and
    because compaction is its own snapshot it composes with time
    travel and incremental reads like any other commit.

    ``sort_by``: cluster each rewritten partition BY KEY RANGE across
    several files instead of bin-packing to one (Z-order-lite):
    repartitionByRange on (partition, sort keys) gives each output
    file a tight, near-disjoint key range, which the manifest's
    per-file min/max then exposes to ``between=`` skipping — a point
    or range read touches ~one file per partition instead of all of
    them. Clustering + stats is the whole data-skipping story; neither
    works without the other (one packed file per partition would carry
    the partition's FULL range in its stats)."""
    prev = load_manifest(root)
    pcol = prev["partition_col"]
    version = prev["version"] + 1
    if partitions is None:
        partitions = sorted({str(f["partition"]) for f in prev["files"]})
    base = read_table(spark, root, version=prev["version"], partitions=partitions)
    n_parts = max(len(partitions), 1)
    if sort_by:
        data = base.repartitionByRange(
            n_parts * 4, F.col(pcol), *[F.col(c) for c in sort_by]
        ).sortWithinPartitions(pcol, *sort_by)
    else:
        data = base.repartition(n_parts, pcol)
    new_files = _stage_and_collect(
        data, root, pcol, version, prev.get("stats_cols") or []
    )
    want = {str(p) for p in partitions}
    carried = [f for f in prev["files"] if str(f["partition"]) not in want]
    _commit(
        root,
        version,
        {
            "version": version,
            "parent": prev["version"],
            "partition_col": pcol,
            "partition_type": prev["partition_type"],
            "stats_cols": prev.get("stats_cols") or [],
            # Compaction is a pure rewrite: schema carried forward.
            "schema": prev.get("schema"),
            "files": carried + new_files,
        },
    )
    return version
