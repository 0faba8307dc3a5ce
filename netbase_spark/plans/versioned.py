"""Snapshot-versioned parquet tables: the sandbox-faithful analog of
Iceberg snapshot checkpoints (the north star's resume primitive), built
from exactly the machinery a 100-TB table needs and nothing more.

Layout under one table directory:

    <table>/data/<uuid>-part-*.parquet   immutable data files
    <table>/_versions/v00000042.json     manifest: file list + stats
    <table>/_versions/CURRENT            atomic pointer (rename commit)

Semantics (each the small-scale twin of the Iceberg feature named):

- **fast append** — a new version's manifest lists the old files plus
  the new batch's files; no data file is ever rewritten or copied
  (snapshot commit is O(manifest), not O(table)).  The staged
  pipeline's hardlink publish (plans/table_io.link_partition_files)
  proved the same idea file-system-side; here the manifest carries it.
- **time travel** — ``read(spark, table, version=N)`` reads the exact
  file set of version N; old versions stay readable until expired.
- **rollback** — repoint CURRENT at an older manifest (O(1)).
- **idempotent commits** — ``append(..., batch_id=...)`` is a no-op if
  any manifest already recorded that batch_id: a Structured Streaming
  ``foreachBatch`` replay after a mid-commit crash cannot double-append
  (the engine replays with the same batch_id — the Iceberg
  write.wap/branch-commit equivalent for this loop).
- **file bounds** — every manifest carries per-file ``subj``/``obj``
  min/max taken from the footers of the files its commit wrote (Iceberg
  keeps column bounds in its manifests the same way), so finding the
  files a key set can touch (:func:`file_bounds`) reads no data.
- **expire** — drop manifests older than N versions and delete data
  files no surviving manifest references.

Every commit accepts either a Spark DataFrame (staged Spark write, the
path at any scale) or Arrow tables (``pq.write_table`` on the driver,
for maintenance inputs small enough that a Spark job train costs more
than the work: streaming/construct's surgical merge and
:func:`rewrite_data_files` choose it by input bytes).

Writer discipline: ONE writer at a time (Structured Streaming's
foreachBatch guarantees this for the construction loop; a cluster
deployment gets multi-writer safety from a real catalog's atomic swap
— that, not the data path, is what the Iceberg runtime adds).  Readers
never lock: they resolve CURRENT once and read an immutable file list.
Commit order within append: data files first, manifest second, CURRENT
pointer last (os.replace, atomic on POSIX) — a crash between any two
steps leaves the previous version intact and at worst orphans data
files, which ``expire_versions`` reclaims.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from netbase_spark.plans.broadcast_gate import broadcast_cap_bytes, local_frame

BOUND_COLS = ("subj", "obj")
"""Columns whose per-file min/max every manifest records."""

ARROW_ROW_BYTES = 64
"""Decoded bytes assumed per data-file row when gating the driver-side
Arrow arms (:func:`decoded_bytes` against ``broadcast_cap_bytes``): a
triple row decodes to about 50 bytes of Arrow buffers, so the default
256 MiB cap admits 4M rows.  At that size, on 4 cores, the Arrow arms
still beat the Spark ones (compaction 7.7 vs 15.1 s, a merge touching
every file 3.8 vs 31.8 s) with the driver's Python peaking under 1 GB
(BENCH/arrow_arm_crossover.json)."""

METRICS_LOG = "_construct_metrics.jsonl"
"""Per-table JSON-lines log: one record per stream batch, merge and
compaction (the leading underscore keeps parquet readers off it)."""


def _vdir(table: str) -> str:
    return os.path.join(table, "_versions")


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_vdir(table), f"v{version:08d}.json")


def current_version(table: str) -> int | None:
    """Committed version number, or None for a nonexistent table."""
    cur = os.path.join(_vdir(table), "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as fh:
        return int(fh.read().strip())


def read_manifest(table: str, version: int | None = None) -> dict:
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {table}")
    with open(_manifest_path(table, v)) as fh:
        return json.load(fh)


def log_metrics(table: str, rec: dict) -> None:
    """Append ``rec`` as one line of the table's :data:`METRICS_LOG`."""
    with open(os.path.join(table, METRICS_LOG), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def _schema_json(data, man: dict | None = None) -> str:
    """Spark schema (JSON) of a commit's input: a DataFrame's own; for
    Arrow input the manifest's, else the Arrow schema's Spark twin."""
    if isinstance(data, DataFrame):
        return data.schema.json()
    if man and man.get("schema"):
        return man["schema"]
    from pyspark.sql.pandas.types import from_arrow_schema

    first = data if isinstance(data, pa.Table) else data[0]
    return from_arrow_schema(first.schema).json()


def arrow_schema(schema_json: str) -> pa.Schema:
    """The Arrow twin of a manifest's Spark schema (``rel`` stays int32)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromJson(json.loads(schema_json)))


def _write_batch_files(data, table: str, schema_json: str | None = None) -> list[str]:
    """Materialize a batch as immutable uniquely-named files under
    data/; returns the new relative file names.  A DataFrame goes
    through a staging write + hardlink publish.  A ``pyarrow.Table``
    (or a list of them, one file each) is cast to ``schema_json``
    (default: its own) and
    written with ``pq.write_table`` straight into data/; an empty table
    writes no file (the manifest's schema keeps the version
    readable)."""
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir, exist_ok=True)
    prefix = uuid.uuid4().hex[:8]
    if not isinstance(data, DataFrame):
        schema = arrow_schema(schema_json or _schema_json(data))
        tables = [data] if isinstance(data, pa.Table) else data
        names = []
        for t in tables:
            if t.num_rows:
                name = f"{prefix}-part-{len(names):05d}-{uuid.uuid4()}.parquet"
                pq.write_table(t.select(schema.names).cast(schema),
                               os.path.join(data_dir, name))
                names.append(name)
        return names
    staging = os.path.join(table, f"_staging-{uuid.uuid4().hex}")
    data.write.mode("overwrite").parquet(staging)
    names = []
    for f in sorted(os.listdir(staging)):
        if not (f.startswith("part-") and f.endswith(".parquet")):
            continue
        name = f"{prefix}-{f}"
        os.link(os.path.join(staging, f), os.path.join(data_dir, name))
        names.append(name)
    shutil.rmtree(staging)
    return names


def _footer_bounds(path: str) -> dict:
    """``{column: [min, max]}`` of one data file over all its row groups,
    for each :data:`BOUND_COLS` column whose footer statistics cover
    every row group (a column without them is left out: unbounded)."""
    md = pq.read_metadata(path)
    names = [md.schema.column(j).name for j in range(md.num_columns)]
    out = {}
    for col in BOUND_COLS:
        if col not in names or not md.num_row_groups:
            continue
        j = names.index(col)
        stats = [md.row_group(g).column(j).statistics for g in range(md.num_row_groups)]
        if all(s is not None and s.has_min_max for s in stats):
            out[col] = [min(s.min for s in stats), max(s.max for s in stats)]
    return out


def file_bounds(table: str, man: dict) -> dict:
    """Per-file ``{column: [min, max]}`` for ``man``'s files: the bounds
    the writing commit recorded, else (a manifest older than bounds)
    the file's footer.  No data is read."""
    rec = man.get("bounds") or {}
    data_dir = os.path.join(table, "data")
    return {
        f: rec[f] if f in rec else _footer_bounds(os.path.join(data_dir, f))
        for f in man["files"]
    }


def _commit(table: str, manifest: dict) -> int:
    """Write the manifest then atomically advance CURRENT."""
    os.makedirs(_vdir(table), exist_ok=True)
    v = manifest["version"]
    with open(_manifest_path(table, v), "w") as fh:
        json.dump(manifest, fh)
    tmp = os.path.join(_vdir(table), f".CURRENT.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, os.path.join(_vdir(table), "CURRENT"))
    return v


def _replayed(man: dict, batch_id) -> bool:
    return batch_id is not None and str(batch_id) in set(man.get("batch_ids") or [])


def _commit_files(table, man, data, keep, batch_id, schema_json) -> int:
    """Write ``data``'s files and commit the version listing ``keep``
    (carried by name, with their recorded bounds) plus those files."""
    files = _write_batch_files(data, table, schema_json)
    data_dir = os.path.join(table, "data")
    old = man.get("bounds") or {}
    bounds = {f: old[f] for f in keep if f in old}
    bounds.update({f: _footer_bounds(os.path.join(data_dir, f)) for f in files})
    ids = set(man.get("batch_ids") or [])
    return _commit(table, {
        "version": _next_version(table),
        "files": keep + files,
        "batch_ids": sorted(ids | ({str(batch_id)} if batch_id is not None else set())),
        "parent": man["version"],
        "schema": schema_json,
        "bounds": bounds,
    })


def create(data, table: str) -> int:
    """Initialize a versioned table at ``table`` as version 0 from a
    DataFrame or Arrow table."""
    if current_version(table) is not None:
        raise FileExistsError(f"versioned table already exists at {table}")
    schema_json = _schema_json(data)
    files = _write_batch_files(data, table, schema_json)
    data_dir = os.path.join(table, "data")
    return _commit(
        table,
        {
            "version": 0,
            "files": files,
            "batch_ids": [],
            "parent": None,
            "schema": schema_json,
            "bounds": {f: _footer_bounds(os.path.join(data_dir, f)) for f in files},
        },
    )


def append(data, table: str, batch_id: str | int | None = None) -> int:
    """Fast-append ``data`` (DataFrame or Arrow) as a new version;
    returns the committed version (or the current one unchanged when
    ``batch_id`` was already committed — replay idempotence)."""
    man = read_manifest(table)
    if _replayed(man, batch_id):
        return man["version"]
    return _commit_files(table, man, data, man["files"], batch_id,
                         man.get("schema") or _schema_json(data))


def _next_version(table: str) -> int:
    """Next version number: must exceed EVERY existing manifest, not
    just the parent — after a rollback, parent+1 would overwrite the
    rolled-back-over manifest and clobber its lineage."""
    existing = [
        int(f[1:9]) for f in os.listdir(_vdir(table))
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(existing) + 1


def replace(data, table: str, batch_id: str | int | None = None) -> int:
    """Commit ``data`` (DataFrame, Arrow table or list of Arrow tables,
    one file each) as a new version whose file list is ONLY the new
    files — a full-table rewrite commit (the Iceberg
    overwrite/rewrite-snapshot analog).  Used by
    :func:`rewrite_data_files`: the old version's files are untouched
    and stay time-travel readable until ``expire_versions``.  Same
    ``batch_id`` replay idempotence as :func:`append`."""
    man = read_manifest(table)
    if _replayed(man, batch_id):
        return man["version"]
    return _commit_files(table, man, data, [], batch_id, _schema_json(data, man))


def replace_files(
    data,
    table: str,
    keep_files: list[str],
    batch_id: str | int | None = None,
) -> int:
    """Surgical rewrite commit: the new version's file list is
    ``keep_files`` (untouched data files, carried over by NAME — never
    copied or rewritten) plus ``data``'s freshly-written files — the
    Iceberg overwrite-files/rewrite-files analog.  This is what makes a
    delta maintenance pass cheap at scale: a full :func:`replace`
    re-WRITES the whole table even when only a few rows changed, while
    this commits O(touched files) new bytes and an O(manifest) swap.
    ``data`` is a DataFrame or an Arrow table.  Same ``batch_id``
    replay idempotence as :func:`append`."""
    man = read_manifest(table)
    if _replayed(man, batch_id):
        return man["version"]
    unknown = set(keep_files) - set(man["files"])
    if unknown:
        raise ValueError(
            f"keep_files not in the current version: {sorted(unknown)[:5]}"
        )
    return _commit_files(table, man, data, sorted(keep_files), batch_id,
                         man.get("schema") or _schema_json(data))


def read_arrow(table: str, files: list[str], man: dict,
               columns: list[str] | None = None, filters=None) -> pa.Table:
    """The rows of ``files`` (names under data/) as one Arrow table in
    the manifest's schema, read on the driver; ``columns`` projects and
    ``filters`` (``pq.read_table`` form) prunes row groups by their
    statistics."""
    schema = arrow_schema(man["schema"])
    if not files:
        empty = schema.empty_table()
        return empty.select(columns) if columns else empty
    paths = [os.path.join(table, "data", f) for f in files]
    return pq.read_table(paths, schema=schema, columns=columns,
                         filters=filters, partitioning=None)


def decoded_bytes(table: str, files: list[str]) -> int:
    """Estimated Arrow (decoded) size of ``files``: their footers' row
    counts times :data:`ARROW_ROW_BYTES`.  On-disk bytes are no measure
    of it — a dictionary-encoded, compressed column decodes many times
    larger."""
    data_dir = os.path.join(table, "data")
    return ARROW_ROW_BYTES * sum(
        pq.read_metadata(os.path.join(data_dir, f)).num_rows for f in files
    )


def key_starts(tbl: pa.Table, keys: list[str]) -> np.ndarray:
    """Per row of ``tbl``: whether its ``keys`` differ from the previous
    row's (row 0: True) — vectorized, no Python value is built.  Null
    equals null."""
    n = tbl.num_rows
    out = np.zeros(n, dtype=bool)
    out[:1] = True
    for c in keys if n > 1 else ():
        a, b = tbl[c].slice(1), tbl[c].slice(0, n - 1)
        ne = pc.coalesce(pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b)))
        out[1:] |= ne.to_numpy(zero_copy_only=False)
    return out


def _split_at_keys(tbl: pa.Table, n: int, keys: list[str] | None) -> list[pa.Table]:
    """``tbl`` (sorted on ``keys``) as at most ``n`` slices of near-equal
    row count; each cut moves forward to the next change of key, so no
    key spans two slices."""
    rows = tbl.num_rows
    if n <= 1 or rows <= 1:
        return [tbl]
    starts = np.flatnonzero(key_starts(tbl, keys)[1:]) + 1 if keys \
        else np.arange(1, rows)
    j = np.searchsorted(starts, [k * rows // n for k in range(1, n)])
    cuts = np.unique(starts[j[j < len(starts)]])
    edges = [0, *cuts.tolist(), rows]
    return [tbl.slice(a, b - a) for a, b in zip(edges, edges[1:])]


def rewrite_data_files(
    spark: SparkSession,
    table: str,
    cluster_by: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
    batch_id: str | int | None = None,
) -> int:
    """Layout maintenance — the Iceberg ``rewrite_data_files`` analog:
    rewrite the CURRENT version's rows into a fresh, bin-packed,
    key-clustered file set and commit it as a :func:`replace` snapshot.
    The row multiset is unchanged (pure maintenance; time travel still
    reads the old layout); what changes is the LAYOUT:

    - ``cluster_by`` columns sort the rows and cut them into files at
      key boundaries, so each key's rows land in exactly one file with
      tight min/max bounds — this is what keeps the surgical merge path
      (streaming/construct._surgical_recanonicalize) touching
      O(touched) files: its candidate test reads exactly those bounds,
      and streamed appends decay that property over time (every
      appended batch scatters new rows for old keys into new files);
    - ``target_file_bytes`` bin-packs: the output file count is
      ceil(current data bytes / target), so a thousand small appended
      files compact into a few right-sized ones (small-file compaction,
      the other half of the Iceberg action).

    Two arms, chosen by the live files' :func:`decoded_bytes` against
    ``broadcast_cap_bytes(spark)``: at most the cap, the rows are read,
    sorted and cut in Arrow on the driver (no Spark job); above it, a
    ``repartitionByRange`` + in-file sort on Spark.  Each run appends
    one record (``path``, files, on-disk and decoded input bytes, cap,
    secs) to the table's :data:`METRICS_LOG`.

    Runs as ONE writer (same discipline as every commit here); readers
    of older versions are unaffected, and ``expire_versions`` later
    reclaims the scattered layout's files.  Returns the new version."""
    t0 = time.perf_counter()
    man = read_manifest(table)
    if _replayed(man, batch_id):
        return man["version"]
    data_dir = os.path.join(table, "data")
    total_bytes = sum(
        os.path.getsize(os.path.join(data_dir, f)) for f in man["files"]
    )
    n_files = max(min_files, -(-total_bytes // max(1, target_file_bytes)))
    cap = broadcast_cap_bytes(spark)
    decoded = decoded_bytes(table, man["files"])
    arrow = decoded <= cap
    if arrow:
        tbl = read_arrow(table, man["files"], man)
        if cluster_by:
            tbl = tbl.sort_by([(c, "ascending") for c in cluster_by])
        packed = _split_at_keys(tbl, n_files, cluster_by)
    else:
        df = read(spark, table)
        if cluster_by:
            packed = df.repartitionByRange(n_files, *cluster_by)
            packed = packed.sortWithinPartitions(*cluster_by)
        else:
            packed = df.coalesce(n_files) if df.rdd.getNumPartitions() > n_files \
                else df.repartition(n_files)
    v = replace(packed, table, batch_id=batch_id)
    n_before = len(man["files"])
    log_metrics(table, {
        "batch_id": batch_id,
        "compaction": True,
        "path": "arrow" if arrow else "spark",
        "candidate_files": n_before,
        "touched_files": n_before,
        "files_before": n_before,
        "files_after": len(read_manifest(table)["files"]),
        "input_bytes": total_bytes,
        "decoded_bytes": decoded,
        "cap_bytes": cap,
        "secs": round(time.perf_counter() - t0, 3),
    })
    return v


def read(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """DataFrame over the exact file set of ``version`` (default
    CURRENT).  An empty file list (a version committed from a DataFrame
    whose write produced zero part files) yields an empty DataFrame with
    the manifest's recorded schema — every commit path records one, so
    no version is ever unreadable."""
    from pyspark.sql.types import StructType

    man = read_manifest(table, version)
    paths = [os.path.join(table, "data", f) for f in man["files"]]
    if not paths:
        schema = man.get("schema")
        if schema is None:
            raise ValueError(
                f"version {man['version']} of {table} lists no files and "
                "predates schema-bearing manifests"
            )
        return local_frame(spark, [], StructType.fromJson(json.loads(schema)))
    return spark.read.parquet(*paths)


def rollback(table: str, version: int) -> int:
    """Repoint CURRENT at an existing older version (O(1)); later
    versions remain on disk until ``expire_versions``."""
    if not os.path.exists(_manifest_path(table, version)):
        raise FileNotFoundError(f"no manifest for version {version} at {table}")
    man = read_manifest(table, version)
    _commit(table, man)
    return version


def expire_versions(
    table: str,
    keep: int = 2,
    keep_future: bool = True,
    staging_grace_secs: float = 3600.0,
) -> list[str]:
    """Drop all but the newest ``keep`` manifests at or below CURRENT
    and delete data files no surviving manifest references (orphans from
    crashed appends included).  Versions ABOVE current — the branch left
    behind by a :func:`rollback` — survive by default (``keep_future``;
    a user may intend to roll FORWARD to them); pass
    ``keep_future=False`` to reclaim that branch's disk.  A data file
    that only expiring manifests list is deleted at once.  A data file
    that NO manifest lists, or a leftover ``_staging-*`` directory, is
    removed only once its mtime is older than ``staging_grace_secs``: a
    fresh one is the normal state of an IN-FLIGHT commit (its files are
    published into data/ before its manifest lists them), and deleting
    it mid-write would corrupt that commit — expiry may run beside a
    live writer (the streaming loop itself never calls it; a caller
    runs it between batches).  Returns the deleted data file names."""
    cur = current_version(table)
    if cur is None:
        return []
    versions = sorted(
        int(f[1:9]) for f in os.listdir(_vdir(table))
        if f.startswith("v") and f.endswith(".json")
    )
    survivors = [v for v in versions if v <= cur][-keep:]
    if keep_future:
        survivors += [v for v in versions if v > cur]
    live: set[str] = set()
    for v in survivors:
        live |= set(read_manifest(table, v)["files"])
    # files a committed (now expiring) version listed are no in-flight
    # commit's: they go at once, whatever their age
    listed: set[str] = set()
    for v in versions:
        if v not in survivors:
            listed |= set(read_manifest(table, v)["files"])
    now = time.time()

    def expired(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= staging_grace_secs
        except OSError:  # removed meanwhile
            return False

    deleted = []
    data_dir = os.path.join(table, "data")
    for f in os.listdir(data_dir):
        path = os.path.join(data_dir, f)
        if f not in live and (f in listed or expired(path)):
            os.remove(path)
            deleted.append(f)
    for v in versions:
        if v not in survivors:
            os.remove(_manifest_path(table, v))
    for f in os.listdir(table):
        path = os.path.join(table, f)
        if f.startswith("_staging-") and expired(path):
            shutil.rmtree(path, ignore_errors=True)
    return sorted(deleted)
