"""Catalog layer: partitioned-table specs + idempotent overwrite loader.

Parity with the reference's Hive connector (SURVEY §2.1 S3-S7):

- ``TableSpec``      (name, schema, partition keys) with partition columns
                     physically last (reference HiveConnector.scala:13-15 —
                     INSERT OVERWRITE binds partition columns positionally)
- ``ensure_table``   create-if-absent from an empty frame, parquet+snappy
                     (HiveConnector.scala:17-27)
- ``extract_sql``    templated ``{TABLE}`` SQL over the registered table
                     (HiveConnector.scala:29-32)
- ``load_overwrite`` staging table + dynamic-partition INSERT OVERWRITE +
                     staging drop (HiveConnector.scala:34-57). The staging
                     hop exists because Spark cannot overwrite a table from
                     a plan that reads the same table; dynamic overwrite
                     replaces ONLY the partitions present in the input —
                     the idempotent-backfill mechanism (reference README:5-8).

Works against either catalog implementation: the in-memory session catalog
or a Hive metastore (``get_spark(hive=True)``; embedded Derby locally, an
external metastore service on a real cluster). At 100 TB the partition
count is the metastore's problem, not the data path's — per-write dynamic
overwrite touches only the loaded dates.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class TableSpec:
    name: str
    schema: StructType
    partition_keys: tuple[str, ...] = field(default_factory=tuple)
    #: prior schema versions, oldest first; ``schema`` itself is the current
    #: (newest) version and is NOT repeated here — ``full_history`` appends it.
    #: Populated by :func:`evolve_spec`; persisted per-table by
    #: :func:`save_schema_history` so any later reader can validate an
    #: evolved read without sweeping file footers.
    schema_history: tuple[StructType, ...] = field(default_factory=tuple)

    @property
    def ordered_columns(self) -> list[str]:
        """Data columns first, partition keys last (positional-binding rule)."""
        data = [f.name for f in self.schema.fields if f.name not in self.partition_keys]
        return data + list(self.partition_keys)

    @property
    def full_history(self) -> tuple[StructType, ...]:
        """Every schema version files of this table may carry, oldest first,
        current last — the exact value ``io.readers.read_evolved`` wants."""
        return self.schema_history + (self.schema,)


def evolve_spec(spec: TableSpec, new_schema: StructType) -> TableSpec:
    """Advance ``spec`` to schema version N+1, recording version N in the
    history — the write-side half of schema evolution.

    Legality is checked with the SAME rule the evolved read enforces
    (``io.readers.evolvable``): a column present in both versions must keep
    its type or take a safe widening (int->bigint, float->double, …);
    columns may be added (old partitions surface typed NULLs) or dropped
    (old partitions' copies are pruned at the scan).  Rejecting anything
    else AT EVOLVE TIME is the point: an illegal version that merely gets
    recorded would defer the failure to every future read.

    Partition keys are pinned — changing a table's physical layout predicate
    is a repartitioning migration (full rewrite), never an in-place schema
    step, so each key must survive the evolution with its type unchanged.

    The check runs against EVERY recorded version, not just the current
    one: files written under any historical schema may legally remain on
    disk indefinitely (only a compaction rewrite retires an era — Iceberg
    semantics: the rewrite materializes the current schema, so dropped
    columns keep their values in un-compacted files and retained
    snapshots, and surface as NULLs where compaction already rewrote), so
    a column dropped in v2 and re-added in v3 must still be readable from
    any v1 files present — re-adding it with an incompatible type would
    poison every future read while passing a current-schema-only gate.
    Names fold case-insensitively, matching the evolved read's posture
    under the default ``spark.sql.caseSensitive=false`` (for a
    case-sensitive deployment this is strictly more conservative —
    the safe direction for a write-side gate with no session at hand).

    New partitions written after this call carry ``new_schema``; partitions
    already on disk stay as-is and are conformed at read time by
    :func:`read_spec_evolved` via the recorded history — no rewrite.
    """
    from sparkgraft.io.readers import evolvable

    def fold(name: str) -> str:
        return name.lower()

    new = {fold(f.name): f.dataType.simpleString() for f in new_schema.fields}
    if len(new) != len(new_schema.fields):
        raise TypeError(
            "new schema has case-colliding column names — ambiguous under "
            f"the default case-insensitive resolution: "
            f"{sorted(f.name for f in new_schema.fields)}"
        )
    for i, version in enumerate(spec.full_history):
        for f in version.fields:
            got = f.dataType.simpleString()
            want = new.get(fold(f.name))
            if want is not None and not evolvable(got, want):
                raise TypeError(
                    f"column {f.name!r}: {got} (schema version {i}, still on "
                    f"disk) -> {want} is a data migration (rewrite), not a "
                    "schema evolution"
                )
    old = {fold(f.name): f.dataType.simpleString() for f in spec.schema.fields}
    for key in spec.partition_keys:
        if new.get(fold(key)) != old.get(fold(key)):
            raise TypeError(
                f"partition key {key!r} must survive evolution unchanged "
                f"(old={old.get(fold(key))}, new={new.get(fold(key))}) — "
                "changing the layout predicate is a repartitioning migration"
            )
    # carry the NEW schema's spelling into partition_keys: ordered_columns
    # and the write path compare names case-sensitively, so a case-renamed
    # key left under its old spelling would be treated as a data column AND
    # re-appended as a phantom partition key
    new_names = {fold(f.name): f.name for f in new_schema.fields}
    return TableSpec(
        name=spec.name,
        schema=new_schema,
        partition_keys=tuple(
            new_names.get(fold(k), k) for k in spec.partition_keys
        ),
        schema_history=spec.full_history,
    )


#: hidden sidecar (underscore prefix: invisible to Spark partition
#: discovery, same convention as _SUCCESS) recording a path-table's schema
#: version log.  For a metastore deployment the same JSON list lives in
#: table properties; the sidecar keeps path-addressed tables (the testdata
#: layout) self-describing.
_HISTORY_SIDECAR = "_schema_history.json"


def save_schema_history(path: str, spec: TableSpec) -> None:
    """Persist ``spec.full_history`` next to the table's data files.
    Idempotent single-file write, O(1) regardless of table size."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    payload = [v.jsonValue() for v in spec.full_history]
    tmp = os.path.join(path, f".{_HISTORY_SIDECAR}.tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, os.path.join(path, _HISTORY_SIDECAR))


def load_schema_history(path: str) -> tuple[StructType, ...] | None:
    """The recorded schema version log for a table path, or None when the
    table predates history recording (callers fall back to the footer
    sweep, which handles exactly that legacy case)."""
    import json
    import os

    p = os.path.join(path, _HISTORY_SIDECAR)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return tuple(StructType.fromJson(v) for v in json.load(fh))


def read_spec_evolved(spark: SparkSession, path: str, spec: TableSpec) -> DataFrame:
    """Read a (possibly multi-schema-version) table path conformed to
    ``spec.schema``, using the recorded history — sidecar first, then the
    spec's own evolution log — so validation never touches file footers; a
    table with neither (external/legacy: no sidecar AND a spec that never
    recorded an evolution, so nothing certifies what schemas the files on
    disk actually carry) falls back to the footer sweep."""
    from sparkgraft.io.readers import read_evolved

    history = load_schema_history(path)
    if history is None and spec.schema_history:
        history = spec.full_history
    return read_evolved(spark, path, spec.schema, history=history)


def _sweep_staging_from(
    spark: SparkSession,
    table_name: str,
    names: list[str],
    horizon_s: float = 3600.0,
) -> list[str]:
    """Drop orphaned ``temp_<table>_<ns>`` staging tables older than
    ``horizon_s`` from an already-fetched table listing (ensure_table's,
    so the sweep costs no second metastore trip) — the recovery for a
    driver killed between ``load_overwrite``'s staging write and its
    ``finally`` drop (the reference has the same hole:
    HiveConnector.scala:37-56 drops staging only on the happy path).

    The creation timestamp is IN the name (``time.time_ns()`` suffix), so
    age needs no filesystem stat: a live load younger than the horizon is
    never touched.  Matching is anchored to this table's exact
    ``temp_{flat}_<digits>`` shape; another table's staging (or a user
    table that merely starts with ``temp_``) never matches."""
    import re

    flat = table_name.replace(".", "_")
    pat = re.compile(rf"^temp_{re.escape(flat)}_(\d+)$")
    horizon_ns = int(horizon_s * 1e9)
    now_ns = time.time_ns()
    dropped: list[str] = []
    for name in names:
        m = pat.match(name)
        if m and now_ns - int(m.group(1)) >= horizon_ns:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            dropped.append(name)
    return dropped


def _list_table_names(spark: SparkSession) -> list[str]:
    """Current-database table names via SHOW TABLES — one lightweight
    metastore listing (``spark.catalog.listTables`` additionally fetches
    per-table metadata, which measured ~100 ms against embedded Derby and
    grows with catalog size)."""
    return [r.tableName for r in spark.sql("SHOW TABLES").collect()]


def ensure_table(spark: SparkSession, spec: TableSpec) -> None:
    """Create the partitioned parquet table if it does not exist; on the
    way, collect staging debris a crashed load left behind (the startup
    sweep — every pipeline passes through here before reading or
    loading, so orphans never outlive one horizon + one run)."""
    # one metastore listing serves both the sweep and the existence check
    # (tableExists was a second ~100 ms Derby round-trip per call; this
    # function runs several times per load).  Qualified names fall back to
    # tableExists — SHOW TABLES lists only the current database.
    names = _list_table_names(spark)
    _sweep_staging_from(spark, spec.name, names)
    if "." in spec.name:
        if spark.catalog.tableExists(spec.name):
            return
    # SHOW TABLES reports lowercased names; compare case-insensitively like
    # the old tableExists did (a mixed-case spec would otherwise re-run the
    # create path every call — benign under mode('ignore') but never free)
    elif spec.name.lower() in (n.lower() for n in names):
        return
    empty = spark.createDataFrame([], spec.schema).select(*spec.ordered_columns)
    writer = (
        empty.write.mode("ignore").format("parquet").option("compression", "snappy")
    )
    if spec.partition_keys:
        writer = writer.partitionBy(*spec.partition_keys)
    writer.saveAsTable(spec.name)


def extract_sql(spark: SparkSession, spec: TableSpec, templated_sql: str) -> DataFrame:
    """Run SQL with ``{TABLE}`` substituted by the spec's table name."""
    ensure_table(spark, spec)
    return spark.sql(templated_sql.replace("{TABLE}", spec.name))


def read_table(spark: SparkSession, spec: TableSpec) -> DataFrame:
    ensure_table(spark, spec)
    return spark.table(spec.name)


def save_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Write a table bucketed (and sorted) by join key.

    Two tables bucketed the same way join with ZERO exchange — the shuffle
    is paid once at write time instead of on every query. At 100 TB this is
    the mechanism that turns the orders⋈lineitem sort-merge exchange into a
    local per-bucket merge (verified in tests/test_plans.py). Bucket count
    should be sized so each bucket file lands near the target partition
    size at full scale (e.g. 2048 buckets at sf100k).
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("compression", "snappy")
        .bucketBy(n_buckets, *cols)
    )
    if sort:
        writer = writer.sortBy(*cols)
    writer.saveAsTable(name)


def save_clustered(
    df: DataFrame,
    path: str,
    sort_cols: list[str] | str,
    n_files: int = 8,
) -> None:
    """Write parquet range-clustered on ``sort_cols``: repartitionByRange
    puts disjoint key ranges in separate files, sortWithinPartitions
    orders rows inside each, so every row group's min/max stats span a
    narrow slice of the key space. That is what makes predicate pushdown
    actually SKIP IO — a time-range scan over unsorted data matches every
    row group's [min, max] and reads everything; over clustered data it
    touches only the overlapping groups (verified against pyarrow
    row-group stats in tests/test_plans.py).

    At 100 TB: cluster event tables by (event time) at ingest — the write
    pays one range shuffle; every time-windowed query afterwards prunes
    at three levels (partition dir, file via footer stats, row group).
    Size ``n_files`` so files land near parquet.block.size multiples;
    row-group granularity inside each file follows from that same Hadoop
    setting at real data volumes.
    """
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .format("parquet")
        .option("compression", "snappy")
        .save(path)
    )


def _sibling(path: str, kind: str, ns: int) -> str:
    """Name a compaction sibling of ``path`` (temp write, version dir,
    symlink staging): DOT-PREFIXED — ``.{base}__{kind}_{ns}`` in the same
    parent dir.  The leading dot is load-bearing, not cosmetic: siblings
    of a PARTITION directory live inside the table root, and Spark's
    partition discovery parses any visible ``d=x__v_123`` sibling as a
    real partition value — a compacted partition would silently
    double-count at the table root.  Hidden names (``.`` / ``_`` prefix)
    are excluded from both partition discovery and file listing, so the
    protocol's artifacts are invisible to every reader of the root."""
    import os

    parent, base = os.path.split(path.rstrip("/"))
    return os.path.join(parent, f".{base}__{kind}_{ns}")


def _sibling_glob(path: str, kind: str) -> list[str]:
    """All compaction siblings of ``path`` for ``kind`` — both the dotted
    naming and the pre-round-6 undotted naming (tables compacted by an
    older build keep their recovery + GC semantics).

    Matches are anchored to the full artifact shape ``__<kind>_<ns digits>``
    (same anchor as :func:`_is_hidden_or_sibling`): the glob's trailing ``*``
    would otherwise pick up unrelated neighbors like a hand-made
    ``events__old_backup``, which recovery would then try to int-parse
    (crash) or worse, restore over the table."""
    import glob
    import os
    import re

    p = path.rstrip("/")
    parent, base = os.path.split(p)
    # escape the WHOLE fixed prefix (parent included) in both patterns:
    # glob metacharacters anywhere in the parent path must match literally,
    # or crash recovery / version GC silently miss dotted siblings
    dotted = os.path.join(glob.escape(parent), f".{glob.escape(base)}__{kind}_*")
    legacy = f"{glob.escape(p)}__{kind}_*"
    return sorted(
        d
        for d in glob.glob(dotted) + glob.glob(legacy)
        if re.search(rf"__{kind}_\d+$", d)
    )


def _ns_of(sibling: str) -> int:
    """The ``<ns>`` suffix of a compaction artifact name — the ONLY valid
    recency key (lexicographic paths sort all dotted names before undotted
    ones, breaking recency across naming eras)."""
    return int(sibling.rsplit("_", 1)[-1])


def _flip_live_pointer(p: str, target_dir: str, ns: int) -> None:
    """Atomically re-point the table symlink ``p`` at ``target_dir`` (a
    sibling version dir) and re-stamp whichever version it rolled away
    from — the ONE swap protocol shared by the compaction swap and
    rollback.  The re-stamp makes the GC age gate measure time since
    SUPERSESSION: the outgoing version gets the full retention window
    from the moment it stops being live, however long it sat live and
    quiet before that."""
    import os

    prev = os.path.realpath(p)
    lntmp = _sibling(p, "ln", ns)
    os.symlink(os.path.basename(target_dir), lntmp)
    os.rename(lntmp, p)
    if prev != os.path.realpath(p):
        try:
            os.utime(prev)
        except FileNotFoundError:
            pass


def _recover_interrupted_compaction(path: str) -> None:
    """Heal a compaction that crashed mid-swap (see compact_small_files):
    if the table path is missing and a ``__old_*`` sibling exists, the
    crash hit the legacy-migration window — restore the newest
    ``__old_*`` (always the valid pre-swap table; any stray ``__v_*``
    from the same crash is a superseded copy and ages out via GC).
    If the table path is missing but a complete ``__v_*`` version dir
    exists (crash after the version rename, before the symlink landed),
    re-point the table symlink at the newest version.  If the table path
    EXISTS alongside ``__old_*`` dirs, the crash hit after the swap
    completed but before cleanup — the leftovers are superseded and are
    removed."""
    import os
    import shutil

    p = path.rstrip("/")
    # recency order must come from the int ns suffix, same as `vers` below:
    # dotted names ('.x__old_*') sort lexicographically before undotted
    # ('x__old_*'), so a name sort would restore by era, not by recency
    olds = sorted(_sibling_glob(p, "old"), key=_ns_of)
    if not os.path.lexists(p):
        if olds:
            os.rename(olds.pop(), p)
        else:
            # sort by the <ns> suffix, not the full name: dotted and
            # legacy-undotted versions of the same table must interleave
            # by recency, and lexicographic paths would sort all dotted
            # names first
            vers = sorted(_sibling_glob(p, "v"), key=_ns_of)
            if vers:
                os.symlink(os.path.basename(vers[-1]), p)
    for d in olds:
        shutil.rmtree(d)


def _is_hidden_or_sibling(name: str) -> bool:
    """True for directory names partition discovery must skip: dot/underscore
    prefixes are hidden to Spark's discovery (and cover the dotted compaction
    siblings); the undotted markers cover tables compacted by a pre-round-6
    build.  The marker check is anchored to the full artifact shape
    (``__<kind>_<ns digits>`` at end-of-name): a legitimate partition value
    that merely CONTAINS a marker substring (e.g. ``d=x__v_1y``) must stay
    visible to compaction and readers alike."""
    import re

    return name.startswith((".", "_")) or bool(
        re.search(r"__(v|compact|ln|old)_\d+$", name)
    )


def _tree_mtime(d: str) -> float:
    """Newest lstat mtime anywhere under ``d`` (the dir itself included).
    A directory's own top-level mtime is NOT a liveness signal for a
    Spark write in progress: tasks write under ``_temporary/`` subdirs,
    so the top level goes quiet right after creation while the tree is
    very much alive — age decisions must look at the whole tree."""
    import os

    newest = 0.0
    try:
        newest = os.lstat(d).st_mtime
    except FileNotFoundError:
        return newest
    for root, dirs, files in os.walk(d):
        for name in (*dirs, *files):
            try:
                newest = max(newest, os.lstat(os.path.join(root, name)).st_mtime)
            except FileNotFoundError:
                continue
    return newest


def _gc_compaction_leftovers(path: str, gc_age_s: float) -> None:
    """Age-gated GC of compaction siblings (``__compact_*`` temp writes,
    superseded ``__v_*`` version dirs, stray ``__ln_*`` symlinks).  The
    age gate matters twice over: an unconditional sweep would (a) delete
    the in-flight temp dir of a CONCURRENT compaction of the same path,
    failing its write mid-job, and (b) yank a superseded version dir out
    from under a reader that resolved the table symlink just before the
    swap.  Anything whose NEWEST tree entry (not just the top-level dir
    — a long Spark write mutates only ``_temporary/`` subtrees) is
    younger than ``gc_age_s`` is left alone; the live version — whatever
    the table symlink currently resolves to — is never touched
    regardless of age.  For (b) the age is time since SUPERSESSION, not
    time since last write: the swap in compact_small_files re-stamps the
    outgoing version dir (``os.utime``) the moment the symlink moves
    away, so a version that sat live-and-quiet for hours still gets the
    full ``gc_age_s`` of post-swap retention for in-flight readers."""
    import os
    import shutil

    p = path.rstrip("/")
    live = os.path.realpath(p) if os.path.islink(p) else None
    now = time.time()
    for d in (
        _sibling_glob(p, "compact") + _sibling_glob(p, "v") + _sibling_glob(p, "ln")
    ):
        if live is not None and os.path.realpath(d) == live:
            continue
        if now - _tree_mtime(d) < gc_age_s:
            continue
        if os.path.islink(d):
            os.remove(d)
        else:
            shutil.rmtree(d, ignore_errors=True)


def _part_files_and_target(src: str, target_mb: int) -> tuple[list[str], int]:
    """(data part files under ``src``, size-derived output file count).
    ONE definition for both the compactor's sizing and the table-level
    skip check — if the two drifted, a budgeted nightly run would either
    rewrite already-compact partitions every pass or permanently skip
    partitions that still need merging."""
    import os

    parts = [
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    total = sum(os.path.getsize(p) for p in parts)
    return parts, max(1, math.ceil(total / (target_mb * 1024 * 1024)))


def resolve_table_path(path: str) -> str:
    """Pin a compaction-managed table path to its current immutable
    version directory (one ``realpath`` call).  Version dirs are
    write-once: a reader that scans the RESOLVED path can never race a
    concurrent compaction swap, because the swap only re-points the
    symlink and the age-gated GC keeps superseded versions around long
    after any in-flight scan.  Reading the symlink path directly also
    works, with one residual window: a scan that LISTS files just before
    a swap and OPENS them just after resolves the new version's
    differently-named part files — resolve first and the window is
    zero."""
    import os

    return os.path.realpath(path)


def list_table_versions(path: str) -> list[dict]:
    """Every RETAINED snapshot of a compaction-managed table, oldest
    first: ``{"created_ns": int, "path": str, "live": bool}``.

    The ``__v_<ns>`` version dirs the swap protocol leaves behind ARE
    snapshots — each one is the complete table as of its SUPERSESSION
    (ingest appends land in whichever version is live, and compaction
    freezes that state into the next version), so the retained set gives
    compaction-pointed time travel for free, bounded by the age-gated GC
    exactly like Delta/Iceberg time travel is bounded by VACUUM
    retention.  A table never compacted has no snapshots (empty list).
    On an object store the same listing comes from manifest files; the
    semantics — pointer history over immutable file sets — are
    identical."""
    import os

    p = path.rstrip("/")
    if not os.path.islink(p):
        return []
    live = os.path.realpath(p)
    out = []
    for d in sorted(_sibling_glob(p, "v"), key=_ns_of):
        out.append(
            {
                "created_ns": _ns_of(d),
                "path": d,
                "live": os.path.realpath(d) == live,
            }
        )
    return out


def resolve_table_path_asof(path: str, ns: int) -> str:
    """The version dir that was live AT wall-clock ``ns`` — the newest
    retained snapshot created at or before it.  Reads against the
    returned dir are pinned and immutable (the GC never removes a
    version younger than the retention window, and never the live one).
    Snapshot boundaries are compaction points: the version live at ``ns``
    also contains any ingest appended between ``ns`` and its
    supersession — compaction-pointed, not instant-pointed, time
    travel."""
    vers = [v for v in list_table_versions(path) if v["created_ns"] <= ns]
    if not vers:
        raise FileNotFoundError(
            f"no retained snapshot of {path!r} at ns={ns} — snapshots are "
            "created by compaction and retained for gc_age_s after "
            "supersession"
        )
    return vers[-1]["path"]


def restore_table_version(path: str, created_ns: int) -> str:
    """Roll a compaction-managed table back to a retained snapshot — the
    bad-load incident response.  Restore creates a NEW version (Delta's
    RESTORE-as-new-commit semantics) built as a hardlink farm over the
    target snapshot's files — zero bytes copied, O(files) metadata ops —
    then flips the live pointer with the standard swap.  Appending a new
    version instead of re-pointing at the old dir keeps the as-of
    timeline LINEAR: ``resolve_table_path_asof(now)`` resolves to the
    restored content (not the rolled-away bad load), as-of reads inside
    the rolled-away window still see that window's version until it ages
    out, and the GC needs no special cases — the hardlinks keep the
    restored data alive even after the original snapshot dir is
    reclaimed.  In-flight readers keep whatever version they pinned; the
    rolled-away version gets the full post-supersession retention
    (change-of-mind rollback stays possible until it ages out)."""
    import os

    p = path.rstrip("/")
    if not os.path.islink(p):
        raise ValueError(
            f"{path!r} is not a compaction-managed table (no version "
            "history to restore from)"
        )
    target = next(
        (v for v in list_table_versions(p) if v["created_ns"] == created_ns),
        None,
    )
    if target is None:
        raise FileNotFoundError(
            f"no retained snapshot of {path!r} with created_ns={created_ns}; "
            f"see list_table_versions"
        )
    ns = time.time_ns()
    tmp = _sibling(p, "compact", ns)
    for dirpath, _dirnames, filenames in os.walk(target["path"]):
        rel = os.path.relpath(dirpath, target["path"])
        dst = os.path.join(tmp, rel) if rel != "." else tmp
        os.makedirs(dst, exist_ok=True)
        for f in filenames:
            os.link(os.path.join(dirpath, f), os.path.join(dst, f))
    # Restore rolls back DATA, not the schema LOG: the farm just hardlinked
    # the snapshot's (stale) _schema_history.json, and read_spec_evolved
    # prefers the sidecar over the spec — schema versions recorded after
    # that snapshot would vanish from the table's log.  History is
    # append-only (current ⊇ snapshot), so the pre-restore LIVE sidecar is
    # always a valid reader for the restored files; mirror its state into
    # the new version.  Must unlink before writing: the tmp sidecar is a
    # HARDLINK into the snapshot dir, and an in-place write would corrupt
    # the immutable snapshot's own copy.
    live_sidecar = os.path.join(os.path.realpath(p), _HISTORY_SIDECAR)
    tmp_sidecar = os.path.join(tmp, _HISTORY_SIDECAR)
    snap_had_sidecar = os.path.exists(tmp_sidecar)
    if snap_had_sidecar:
        os.remove(tmp_sidecar)
    import shutil

    if os.path.exists(live_sidecar):
        shutil.copy2(live_sidecar, tmp_sidecar)
    elif snap_had_sidecar:
        # live sidecar lost out-of-band but the snapshot carried one: the
        # snapshot's own history is strictly older yet still a valid reader
        # for the restored files — keep it (as a COPY, never a hardlink into
        # the immutable snapshot) rather than silently restoring a versioned
        # table with no history at all
        shutil.copy2(
            os.path.join(target["path"], _HISTORY_SIDECAR), tmp_sidecar
        )
    vdir = _sibling(p, "v", ns)
    os.rename(tmp, vdir)
    _flip_live_pointer(p, vdir, ns)
    return vdir


# ---------------------------------------------------------------------------
# Per-epoch planning statistics (SCALE.md §Planning statistics)
#
# `sessionize_auto` / `salted_join_auto` flip plans on a measured key-hotness
# statistic.  Per-invocation that is one column-pruned scan — cheap next to
# the windowed shuffle, but on a production pipeline the statistic should be
# computed ONCE per table epoch (the round-8 verdict's watch item) and read
# back as a cached scalar.  A grouped statistic (max rows on one key) cannot
# ride an `Observation` on the load job — observations evaluate scalar
# aggregate expressions over the flowing rows, and per-key max-count needs a
# grouping — so the amortization is a sidecar: compute after ingest, persist
# next to the table, invalidate on the next version flip.
# ---------------------------------------------------------------------------

_STATS_SIDECAR_KIND = "stats"


def _stats_sidecar_path(path: str, store: str | None = None) -> str:
    # fixed ns=0: one stats sidecar per table (epoch recorded INSIDE the
    # file), reusing the hidden-sibling naming so partition discovery and
    # file listing never see it.
    #
    # ``store``: external stats directory for READ-ONLY tables (another
    # team's lake, a mounted snapshot) where writing next to the data is
    # impossible — the sidecar lives under ``store`` keyed by the table's
    # realpath (digest + basename, so two tables sharing a basename never
    # collide), while the EPOCH still comes from the table itself, so
    # invalidation semantics are identical to the adjacent-sidecar form.
    if store is not None:
        import hashlib
        import os

        real = os.path.realpath(path)
        key = hashlib.md5(real.encode()).hexdigest()[:16]
        base = os.path.basename(real.rstrip("/"))
        return os.path.join(store, f".{base}__{_STATS_SIDECAR_KIND}_{key}")
    return _sibling(path, _STATS_SIDECAR_KIND, 0)


def _table_epoch(path: str) -> int:
    """Current epoch marker for a table path: for a compaction-managed
    table, the MAX of the live version's ``created_ns`` and the newest
    mtime_ns inside that version dir — appends land INSIDE the live
    version dir between compactions (see ``compact_small_files``'s append
    note), so created_ns alone would let a stale statistic survive until
    the next version flip; for a plain directory, the max mtime_ns across
    the tree's visible entries (append = new files = new epoch —
    recursive, so an append into a nested partition leaf bumps the epoch
    even when no top-level mtime moves).

    Cost: one os.walk + per-entry stat — O(#files) driver-side listing
    per call.  That is deliberate and NOT memoized per process: a memo
    would serve a pre-append epoch to the very caller that just appended,
    and the listing is metadata-only (no data read, no Spark job) — the
    same order of work every Spark read already does for file discovery.

    The version-dir test is anchored to the full ``__v_<ns digits>``
    artifact shape (same anchor as :func:`_sibling_glob`): a table that
    merely CONTAINS the marker substring (``events__v_backup``) is a
    plain directory, not a version pointer."""
    import os
    import re

    real = os.path.realpath(path)
    base = os.path.basename(real.rstrip("/"))
    m = re.search(r"__v_(\d+)$", base)
    newest = int(m.group(1)) if m else os.stat(real).st_mtime_ns
    for dirpath, dirnames, filenames in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for name in (*dirnames, *filenames):
            if name.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, name), follow_symlinks=False)
            newest = max(newest, st.st_mtime_ns)
    return newest


def save_table_stats(
    path: str, stats: dict, epoch: int | None = None, store: str | None = None
) -> str:
    """Merge ``stats`` (name -> JSON-serializable value) into the table's
    hidden stats sidecar, stamped with the table epoch.  Same atomic
    tmp+replace protocol as the schema-history sidecar.

    ``epoch``: pass the epoch captured BEFORE computing the statistic —
    if an append lands while the measuring scan runs, the stat is
    recorded against the PRE-scan epoch and the post-append epoch reads
    as a cache miss, instead of a stale measurement being stamped fresh.
    Defaults to the current epoch for stats that are cheap/atomic to
    compute.

    Concurrency: the merge is read-modify-replace, NOT atomic across
    writers — two concurrent savers can each read the same base and the
    later ``os.replace`` drops the earlier writer's new stat
    (last-writer-wins).  That is self-healing (the dropped stat reads as
    a cache miss and is recomputed + re-saved by its next consumer) and
    deliberate: per-stat file locking would buy nothing for a cache whose
    misses are correct, just slower."""
    import json
    import os

    sidecar = _stats_sidecar_path(path, store=store)
    existing = load_table_stats(path, any_epoch=True, store=store)
    if epoch is None:
        epoch = _table_epoch(path)
    for name, value in stats.items():
        existing[name] = {"value": value, "epoch": epoch}
    if store is not None:
        os.makedirs(store, exist_ok=True)
    tmp = sidecar + ".tmp"
    with open(tmp, "w") as f:
        json.dump(existing, f)
    os.replace(tmp, sidecar)
    return sidecar


def load_table_stats(
    path: str, any_epoch: bool = False, store: str | None = None
) -> dict:
    """Read the table's stats sidecar: name -> {"value", "epoch"}.
    By default entries from a SUPERSEDED epoch are dropped (stale plans
    are worse than a re-measure); ``any_epoch=True`` returns everything
    (used by save to merge without re-stamping unrelated stats).

    Cost note: a cache HIT is zero Spark jobs, but NOT zero driver work —
    the epoch check walks the table tree (O(#files) stat calls, see
    ``_table_epoch``).  Metadata-only and far below any Spark job, but at
    millions of files per table prefer the version-dir layout
    (``compact_small_files``), whose walk is bounded to the live
    version."""
    import json
    import os

    sidecar = _stats_sidecar_path(path, store=store)
    if not os.path.exists(sidecar):
        return {}
    with open(sidecar) as f:
        stats = json.load(f)
    if any_epoch:
        return stats
    epoch = _table_epoch(path)
    return {k: v for k, v in stats.items() if v.get("epoch") == epoch}


def cached_key_hotness(spark: SparkSession, path: str, key: str) -> tuple[int, int]:
    """The amortized planning statistic: ``(max rows on one key, total
    rows)`` for ``path``'s ``key`` column, computed AT MOST once per table
    epoch.  Cache hit = zero Spark jobs (a JSON read); miss (first call of
    the epoch, or the table was re-versioned/appended since) = one
    column-pruned map-side-combined scan, persisted for every later
    caller.  Feed the result to ``sessionize_auto(..., hotness=...)`` /
    ``salted_join_auto(..., hotness=...)``."""
    from sparkgraft.ops.sessionize import measure_hotness

    stat_name = f"key_hotness:{key}"
    cached = load_table_stats(path).get(stat_name)
    if cached is not None:
        mx, n = cached["value"]
        return int(mx), int(n)
    # capture the epoch BEFORE the measuring scan: an append landing
    # mid-scan creates a new epoch, and this measurement (which never saw
    # the appended rows) must read as a miss for it, not get stamped as
    # its fresh statistic
    epoch = _table_epoch(path)
    mx, n = measure_hotness(spark.read.parquet(resolve_table_path(path)), key)
    save_table_stats(path, {stat_name: [mx, n]}, epoch=epoch)
    return mx, n


def cached_index(
    path: str,
    kind: str,
    params: dict,
    trainer,
    store: str | None = None,
) -> tuple[object, bool]:
    """Per-epoch cache for TRAINED index artifacts — k-means centroids,
    PQ codebooks, IVF cell centers — extending the ``cached_key_hotness``
    precedent from scalar planning statistics to model state.

    At 100 TB an ANN index is trained once per corpus epoch (a sampled
    k-means over the new ingest) and reused by every query until the next
    epoch; retraining per call (what ``kmeans_assign``/``pq_topk`` do
    when not handed an artifact) repays the fitting scans on every query.
    This helper makes the train-once contract mechanical:

    - cache HIT: the artifact comes back from the stats sidecar (a JSON
      read — ``trainer`` is never invoked), stamped-epoch-checked so an
      append or compaction since training reads as a miss;
    - cache MISS: ``trainer()`` runs (its Spark jobs are the training
      cost), and the artifact is persisted against the PRE-training epoch
      (same mid-train-append discipline as ``save_table_stats``).

    ``params`` disambiguates artifacts of the same kind (k, iters, m —
    anything that changes the trained shape); ``store`` redirects the
    sidecar for read-only tables.  The artifact must be JSON-serializable
    (int/float lists round-trip exactly; keep centroids in micro-unit
    ints, the ``kmeans_fit`` convention).

    Returns ``(artifact, hit)`` — ``hit`` distinguishes a served cache
    from a fresh train for callers that audit the flip (the
    ``embed_index_cache_audit`` driver lane pins cached == fresh).
    """
    sig = ",".join(f"{k}={params[k]}" for k in sorted(params))
    stat_name = f"index:{kind}:{sig}"
    cached = load_table_stats(path, store=store).get(stat_name)
    if cached is not None:
        return cached["value"], True
    epoch = _table_epoch(path)
    artifact = trainer()
    save_table_stats(path, {stat_name: artifact}, epoch=epoch, store=store)
    return artifact, False


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
    gc_age_s: float = 3600.0,
    history: tuple[StructType, ...] | None = None,
) -> int:
    """Compact a parquet directory's small files into ~``target_mb`` files
    — the small-files remediation every long-running ingest needs (each
    micro-batch / task writes its own part file; a year of 5-minute
    batches is 100k tiny files and the NameNode/listing/open-cost kills
    scans long before the bytes do).

    Sizing comes from the FILES THEMSELVES (sum of on-disk part sizes /
    target), not a row-count guess, so compression ratios are respected.

    Swap protocol (symlink-as-manifest — the local-fs analogue of
    Iceberg/Delta metadata indirection): the rewrite lands in a
    DOT-PREFIXED ``.{name}__compact_*`` temp dir, is renamed to an
    immutable ``.{name}__v_<ns>`` version dir (atomic — a version dir is
    complete by construction; the hidden naming keeps every artifact
    invisible to Spark's partition discovery when the table path is a
    partition directory — see ``_sibling``), and the table path — a
    SYMLINK once managed by this function — is re-pointed with one
    atomic ``rename`` of a fresh symlink.  Readers
    therefore never observe a missing or partially-written table, and a
    reader that pinned the previous version (see resolve_table_path)
    keeps scanning it: superseded versions are retained and only removed
    by a LATER call's age-gated GC (``gc_age_s``, default 1 h), which
    also never touches the live version or any sibling young enough to
    be a concurrent compaction's in-flight temp dir.  A legacy plain
    directory is migrated on first call (renamed into the version
    namespace — kept, not deleted — then symlinked; a mid-migration
    crash leaves two complete ``__v_*`` dirs for
    _recover_interrupted_compaction to re-point at); every call after
    that is fully atomic.  On HDFS/S3 substitute a real manifest file —
    object stores have no symlinks — but the version-dir + pointer-swap
    + deferred-GC protocol is identical.  With ``sort_cols`` the rewrite
    also re-clusters (see save_clustered) so compaction doubles as a
    stats refresh.  Returns the output file count.

    At 100 TB run this per PARTITION (the overwrite sink's unit), oldest
    first — compaction is embarrassingly parallel across partitions and
    each is a single coalesce-free write job.

    **Schema-evolved tables are rewritten CONFORMED, never sampled**: a
    naive ``spark.read.parquet`` on a multi-schema-version directory
    infers its schema from one footer (``mergeSchema`` is off by
    default), silently DROPPING columns the sampled file predates — a
    compaction that destroys data.  So when the table carries a recorded
    schema history (the ``_schema_history.json`` sidecar, or an explicit
    ``history=`` from a caller that holds the table-level record — see
    compact_partitioned_table), the rewrite reads through
    ``read_evolved`` conformed to the CURRENT schema: every column
    survives, widenings materialize, and the sidecar is carried into the
    new version dir so later evolved reads stay footer-free.  A mixed
    directory with NO history (legacy/external) is read with
    ``mergeSchema=true``: additive drift unions correctly (missing
    columns -> NULLs) and incompatible drift fails LOUDLY — either way,
    never a silent column drop.
    """
    import os
    import shutil

    _recover_interrupted_compaction(path)
    _gc_compaction_leftovers(path, gc_age_s)
    # pin the current version ONCE — listing, sizing, the rewrite scan and
    # the final count all use the same immutable dir, so a concurrent
    # swap between any two of those steps cannot mix versions
    src = resolve_table_path(path)
    parts, n_files = _part_files_and_target(src, target_mb)
    if not parts:
        entries = os.listdir(src)
        subdirs = [f for f in entries if os.path.isdir(os.path.join(src, f))]
        raise ValueError(
            f"no top-level parquet files under {path!r}"
            + (
                f" (partition subdirectories found: {subdirs[:3]}...) — "
                "compact per PARTITION directory, as the docstring "
                "prescribes; compacting the root would flatten the "
                "partition layout into one unpartitioned file set"
                if subdirs
                else ""
            )
        )
    # same pinned version the sizing saw, in all three read modes.
    # NOTE the dropped-column lifecycle (Iceberg semantics): the rewrite
    # materializes the CURRENT schema, so a column dropped from the spec
    # survives only in files not yet compacted and in retained snapshot
    # dirs — a later re-add surfaces its values from those, and NULLs
    # where compaction already rewrote.  evolve_spec still validates
    # re-adds against every recorded version because un-compacted files
    # of any era may legally remain on disk.
    if history is None:
        history = load_schema_history(src)
    # read_evolved pins the session timezone to UTC (needed for its own
    # decode semantics); a maintenance call must not leak that into the
    # caller's session — save/restore around the whole rewrite, since the
    # conf is consulted when the write job executes, not at plan time
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    try:
        if history:
            from sparkgraft.io.readers import read_evolved

            df = read_evolved(spark, src, history[-1], history=history)
        else:
            # no recorded history: merge footers rather than sample one
            # (additive drift unions, incompatible drift fails loudly).
            # Deliberately NOT auto-recording a sidecar from the merged
            # schema: history is a WRITER contract, and a table whose
            # writers don't maintain it would silently invalidate an
            # auto-recorded log on the next mixed append — the per-call
            # footer merge is a small constant next to the rewrite itself.
            df = spark.read.option("mergeSchema", "true").parquet(src)
        ns = time.time_ns()
        p = path.rstrip("/")
        tmp = _sibling(p, "compact", ns)
        if sort_cols:
            df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            ).write.mode("errorifexists").parquet(tmp)
        else:
            df.repartition(n_files).write.mode("errorifexists").parquet(tmp)
    finally:
        if prev_tz is not None:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
        else:
            # the key was genuinely unset before the call — restore THAT,
            # or read_evolved's UTC pin would leak into the caller's
            # session permanently
            spark.conf.unset("spark.sql.session.timeZone")
    if os.path.exists(os.path.join(src, _HISTORY_SIDECAR)):
        # the version log must travel with the table: the superseded
        # version dir (where the sidecar lives) ages out via GC
        shutil.copy2(
            os.path.join(src, _HISTORY_SIDECAR),
            os.path.join(tmp, _HISTORY_SIDECAR),
        )
    vdir = _sibling(p, "v", ns)
    os.rename(tmp, vdir)  # atomic: a __v_* dir is always complete
    if os.path.islink(p):
        # steady state: one atomic symlink rename — no reader window at
        # all; the superseded version dir stays for in-flight readers
        # until a later call's age-gated GC, with the supersession
        # re-stamp (see _flip_live_pointer) starting its retention clock
        _flip_live_pointer(p, vdir, ns)
    else:
        # one-time legacy migration of a plain directory: the classic
        # two-step window (rename away, then symlink in).  The original
        # data is NOT deleted — it becomes the immediately-older version
        # dir (ns-1 sorts just below the new one), so it gets the same
        # age-gated retention every superseded version gets, and a crash
        # between the two steps leaves two complete __v_* dirs for
        # _recover_interrupted_compaction to re-point at.  Migration is
        # the one transition version-pinning cannot protect a concurrent
        # reader through (pre-migration pins resolve to the plain dir's
        # own path, which this rename repurposes) — quiesce readers for a
        # legacy table's FIRST compaction; steady state needs no quiesce.
        legacy_v = _sibling(p, "v", ns - 1)
        os.rename(p, legacy_v)
        os.symlink(os.path.basename(vdir), p)
        # same supersession re-stamp as the steady-state branch: retention
        # for the migrated legacy dir starts at the swap, not its last write
        os.utime(legacy_v)
    return len(
        [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    )


def compact_partitioned_table(
    spark: SparkSession,
    root: str,
    target_mb: int = 128,
    max_partitions: int | None = None,
    sort_cols: list[str] | None = None,
    gc_age_s: float = 3600.0,
) -> dict[str, int]:
    """Walk a partitioned parquet table and ``compact_small_files`` each
    LEAF partition directory, oldest-first — the incremental operating
    mode ``compact_small_files`` prescribes for 100 TB tables (its unit
    is one partition; the table-level loop is this function).

    - **Oldest-first**: partitions are ordered by newest tree mtime, so a
      bounded run always spends its budget on the longest-uncompacted
      (i.e. coldest, safest) partitions — hot partitions still receiving
      micro-batches get compacted once they go quiet.
    - **Budgeted**: ``max_partitions`` caps the partitions rewritten per
      call. A nightly budgeted run converges: each call retires the
      oldest debt, and partitions compacted once are SKIPPED on later
      calls until new small files appear (a partition whose current file
      count already matches its size-derived target has nothing to
      merge — skipping makes re-runs O(listing), not O(table)).
    - Compaction siblings (``__v_*`` version dirs, ``__compact_*`` temps,
      ``__ln_*``/``__old_*`` artifacts) are never treated as partitions.

    A table-level ``_schema_history.json`` (write-side evolution) is
    honored per leaf: each leaf's rewrite reads conformed to the current
    schema MINUS the dir-encoded partition-key columns (those live in the
    path, not the files — conforming to the full schema would materialize
    NULL key columns inside the leaves and corrupt the layout).

    Returns ``{"compacted": n, "skipped": n, "files_written": n}``.
    Partition discovery here is filesystem listing; on a real deployment
    drive the loop from the metastore's partition list instead (same
    per-partition call).
    """
    import os

    table_history = load_schema_history(resolve_table_path(root.rstrip("/")))

    leaves: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root, followlinks=True):
        dirnames[:] = [d for d in dirnames if not _is_hidden_or_sibling(d)]
        if any(f.endswith(".parquet") and not f.startswith(("_", ".")) for f in filenames):
            leaves.append(dirpath)
            dirnames[:] = []  # a leaf holds data files, not sub-partitions
    # oldest newest-tree-mtime first: longest-uncompacted partitions get
    # the budget, and anything mid-write (fresh mtimes) sorts last
    leaves.sort(key=lambda d: _tree_mtime(resolve_table_path(d)))

    out = {"compacted": 0, "skipped": 0, "files_written": 0}
    for leaf in leaves:
        if max_partitions is not None and out["compacted"] >= max_partitions:
            break
        parts, n_target = _part_files_and_target(resolve_table_path(leaf), target_mb)
        if len(parts) <= n_target:
            out["skipped"] += 1
            continue
        leaf_history = table_history
        if table_history:
            rel = os.path.relpath(os.path.abspath(leaf), os.path.abspath(root))
            keys = {
                seg.split("=", 1)[0].lower()
                for seg in rel.split(os.sep)
                if "=" in seg
            }
            leaf_history = tuple(
                StructType([f for f in v.fields if f.name.lower() not in keys])
                for v in table_history
            )
        out["files_written"] += compact_small_files(
            spark,
            leaf,
            target_mb=target_mb,
            sort_cols=sort_cols,
            gc_age_s=gc_age_s,
            history=leaf_history,
        )
        out["compacted"] += 1
    return out


def sweep_stale_temporary(root: str, age_s: float = 3600.0) -> list[str]:
    """Remove ``_temporary`` directories abandoned by CRASHED Spark write
    jobs anywhere under ``root``; returns the paths removed.

    A killed executor/driver leaves the FileOutputCommitter's
    ``_temporary/`` staging tree behind — never visible to readers
    (hidden prefix) but real bytes, and at ingest scale a year of
    occasional crashes strands terabytes.  The same newest-tree-mtime
    age gate as the compaction GC (``_tree_mtime``) protects in-flight
    writes: a live job keeps mutating its staging tree, so anything
    quiet for ``age_s`` is debris, not progress."""
    import os
    import shutil

    removed: list[str] = []
    now = time.time()
    for dirpath, dirnames, _ in os.walk(root, followlinks=True):
        if "_temporary" in dirnames:
            dirnames.remove("_temporary")
            t = os.path.join(dirpath, "_temporary")
            if now - _tree_mtime(t) >= age_s:
                shutil.rmtree(t, ignore_errors=True)
                removed.append(t)
    return removed


def load_overwrite(spark: SparkSession, spec: TableSpec, df: DataFrame) -> None:
    """Idempotently (over)write the partitions present in ``df``.

    Stages the input to a temp table first (breaking any read-from-target
    cycle in ``df``'s plan), then INSERT OVERWRITE with dynamic partition
    overwrite so untouched partitions survive. Rerunning the same load
    yields byte-identical table contents.
    """
    ensure_table(spark, spec)
    # dots in a qualified table name would misparse the staging name as
    # db-qualified ("temp_analytics.events_<ns>" -> table "events_<ns>" in
    # db "temp_analytics") — flatten them
    staging = f"temp_{spec.name.replace('.', '_')}_{time.time_ns()}"
    ordered = df.select(*spec.ordered_columns)
    ordered.write.mode("errorifexists").format("parquet").option(
        "compression", "snappy"
    ).saveAsTable(staging)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        cols = ", ".join(spec.ordered_columns)
        if spec.partition_keys:
            part = ", ".join(spec.partition_keys)
            # REBALANCE by the partition keys clusters each output
            # partition into one write task (1 file per partition instead
            # of files x tasks; guide §6 'REBALANCE hint before the
            # write') while AQE splits any skewed-huge partition back
            # into multiple tasks — the scale-safe version of
            # write.distribution-mode=hash.  Row content is unchanged.
            spark.sql(
                f"INSERT OVERWRITE TABLE {spec.name} PARTITION ({part}) "
                f"SELECT /*+ REBALANCE({part}) */ {cols} FROM {staging}"
            )
        else:
            spark.sql(f"INSERT OVERWRITE TABLE {spec.name} SELECT {cols} FROM {staging}")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
