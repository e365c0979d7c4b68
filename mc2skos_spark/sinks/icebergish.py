"""Iceberg-emulated table catalog: parquet snapshots + atomic manifests.

No Iceberg runtime jar ships in this sandbox (SURVEY.md sandbox facts),
so the pipeline's "Iceberg tables" are emulated with the same commit
semantics a real catalog would give us, behind a call surface small
enough that ``spark.writeTo(...)`` on a real Iceberg catalog can be
dropped in on a cluster:

* every write lands in a fresh ``snap-<n>/`` directory (parquet,
  optionally partitioned);
* the commit is a single atomic rename of a manifest JSON
  (``os.replace``) recording the snapshot dir, row count and
  per-partition lineage stats (north_rule: partition id, input span,
  row counts, skew stats);
* readers resolve the *current* manifest; uncommitted snapshot dirs are
  invisible garbage — a mid-write kill leaves the previous snapshot
  intact (snapshot isolation), which is what makes stage resume
  idempotent.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from urllib.parse import unquote

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

_NULL_FLAGS = ("nullable", "containsNull", "valueContainsNull")

# Column types whose min/max survive a JSON round trip with their
# ordering intact — the only types file statistics may be kept for.
# (decimal is excluded: Decimal→JSON loses exactness, and a lexical
# string compare of "9.5" vs "10.5" would prune WRONG files — worse
# than no pruning.)
_STATS_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double",
                "string", "date", "timestamp", "timestamp_ntz",
                "boolean")


def _stat_key(v):
    """Normalize a footer min/max (or a caller-side bound) into the
    JSON-safe, correctly-ordering comparison domain: numbers stay
    numbers (Python compares int/float natively), date/datetime become
    ISO strings (lexical == chronological), bool becomes int."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, str)):
        return v
    # datetime.date / datetime.datetime (isoformat orders correctly;
    # zero-pad years < 1000 would break it, but Spark dates collect as
    # date objects whose isoformat pads to 4 digits)
    iso = getattr(v, "isoformat", None)
    if iso is not None:
        return iso()
    raise TypeError("unsupported file-statistics value type: %r"
                    % type(v).__name__)


def _data_files(snap_dir: str) -> list[str]:
    """The parquet data files of a written snapshot, as sorted paths
    relative to it.  Spark names files per task, so one task's files in
    different partition directories share a basename: only the
    relative path names a file uniquely.  Hidden and ``_``-prefixed
    entries (``_SUCCESS``, checksums) are not data, as for Spark's
    reader."""
    files = []
    for here, dirs, names in os.walk(snap_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.relpath(os.path.join(here, n), snap_dir)
                  for n in names
                  if n.endswith(".parquet") and not n.startswith(("_", "."))]
    return sorted(files)


def _footer_stats(path: str, columns: set[str]) -> tuple[int, dict]:
    """Row count and per-column ``(min, max, nulls)`` of one parquet
    file, read from its footer alone, over every row group.  A column
    is absent from the dict when the footer does not hold its stats: a
    partition column (it lives in the directory name), or a row group
    with non-null values but no min/max (parquet-mr drops the
    statistics of a value over 4 KB).  An all-null column has ``min``
    and ``max`` None."""
    meta = pq.read_metadata(path)
    found: dict[str, tuple] = {}
    unknown: set[str] = set()
    for g in range(meta.num_row_groups):
        group = meta.row_group(g)
        for j in range(group.num_columns):
            chunk = group.column(j)
            c = chunk.path_in_schema
            if c not in columns or c in unknown:
                continue
            st = chunk.statistics
            if (st is None or not st.has_null_count or
                    (not st.has_min_max and st.null_count < group.num_rows)):
                unknown.add(c)
                continue
            mn, mx, nulls = found.get(c, (None, None, 0))
            if st.has_min_max:
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            found[c] = (mn, mx, nulls + st.null_count)
    return meta.num_rows, {c: v for c, v in found.items()
                           if c not in unknown}


def _partition_values(rel: str) -> dict:
    """``{column: value text}`` of a hive-partitioned file path
    (``k=v/.../part-*.parquet``): Spark percent-escapes special
    characters in the value and writes a null as
    ``__HIVE_DEFAULT_PARTITION__``."""
    values = {}
    for seg in rel.split(os.sep)[:-1]:
        name, _, raw = seg.partition("=")
        values[unquote(name)] = (None if raw == "__HIVE_DEFAULT_PARTITION__"
                                 else unquote(raw))
    return values


def _span_text(value, spark_type: str) -> str | None:
    """A footer min/max as ``cast(value as string)`` renders it in
    Spark, for the key types lineage spans are kept for: integers,
    strings, booleans and dates.  Any other type records no span."""
    if value is None:
        return None
    if spark_type == "string":
        return value
    if spark_type in ("tinyint", "smallint", "int", "bigint"):
        return str(value)
    if spark_type == "boolean":
        return "true" if value else "false"
    if spark_type == "date":
        return value.isoformat()
    return None


def _strip_null_flags(node):
    """Schema-JSON with every nullability flag removed — the
    shape-equality half of the append compatibility check."""
    if isinstance(node, dict):
        return {k: _strip_null_flags(v) for k, v in node.items()
                if k not in _NULL_FLAGS}
    if isinstance(node, list):
        return [_strip_null_flags(x) for x in node]
    return node


def _nullability_superset(committed, incoming):
    """True when every nullability flag in ``committed`` is at least as
    permissive as ``incoming``'s (call only after shape equality).
    Writing REQUIRED data into an OPTIONAL column is safe (Iceberg
    allows it — and Spark's parquet reader widens nullability on every
    read, so round-tripped frames are always the permissive side);
    the reverse would let nulls hide under a non-null manifest schema.
    """
    if isinstance(committed, dict):
        for k, v in committed.items():
            iv = incoming.get(k) if isinstance(incoming, dict) else None
            if k in _NULL_FLAGS:
                if (not v) and iv:
                    return False
            elif not _nullability_superset(v, iv):
                return False
        return True
    if isinstance(committed, list):
        return all(_nullability_superset(c, i)
                   for c, i in zip(committed, incoming))
    return True


class IcebergishCatalog:

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._table_dir(table),
                            "manifest-%06d.json" % snapshot_id)

    def _list_manifests(self, table: str) -> list[str]:
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        # sort by the parsed snapshot id, not lexicographically — the
        # zero-padded name wraps at 1e6 commits and [-1] would resolve
        # a stale snapshot
        return sorted((f for f in os.listdir(tdir)
                       if f.startswith("manifest-") and f.endswith(".json")),
                      key=lambda f: int(f[len("manifest-"):-len(".json")]))

    def current_manifest(self, table: str) -> dict | None:
        manifests = self._list_manifests(table)
        if not manifests:
            return None
        with open(os.path.join(self._table_dir(table), manifests[-1])) as fp:
            return json.load(fp)

    def exists(self, table: str) -> bool:
        return self.current_manifest(table) is not None

    def tables(self, prefix: str = "") -> list[str]:
        """Sorted committed table names starting with ``prefix``."""
        if not os.path.isdir(self.root):
            return []
        return sorted(t for t in os.listdir(self.root)
                      if t.startswith(prefix)
                      and os.path.isdir(self._table_dir(t))
                      and self._list_manifests(t))

    # ------------------------------------------------------------ write

    def write(self, table: str, df: DataFrame,
              partition_by: list[str] | None = None,
              lineage_key: str | None = None,
              properties: dict | None = None,
              stats_columns: list[str] | None = None,
              cluster_by: list[str] | None = None,
              num_files: int | None = None) -> dict:
        """Write a new snapshot of ``table`` and commit it atomically.

        ``lineage_key``: column whose per-file min/max is recorded as the
        input span in the lineage rows (defaults to the first column).
        ``properties``: caller metadata recorded in the manifest (e.g.
        the pipeline's config fingerprint that gates resume).
        ``stats_columns``: columns whose per-FILE min/max/null-count are
        recorded in the manifest (Iceberg/parquet zone maps at manifest
        granularity) — what :meth:`read_where` prunes data files with.
        Only JSON-order-safe types are accepted (see ``_STATS_TYPES``).
        ``cluster_by``: range-cluster the data across files on these
        columns before writing (Iceberg's sort-order / Delta OPTIMIZE
        ZORDER intent for the 1-D case): ``repartitionByRange`` +
        ``sortWithinPartitions`` makes each file cover a NARROW span of
        the cluster key, which is what turns min/max stats from
        decorative into a 100-TB scan-skipping lever — on a randomly
        laid-out table every file overlaps every predicate and nothing
        prunes.  ``num_files`` bounds the clustered file count
        (default: ``spark.sql.shuffle.partitions``).
        """
        if cluster_by:
            n = int(num_files) if num_files else None
            df = (df.repartitionByRange(n, *cluster_by) if n
                  else df.repartitionByRange(*cluster_by))
            df = df.sortWithinPartitions(*cluster_by)
        return self._write_snapshot(table, df, partition_by, lineage_key,
                                    properties, base=None,
                                    stats_columns=stats_columns,
                                    cluster_by=cluster_by)

    def append(self, table: str, df: DataFrame,
               lineage_key: str | None = None,
               properties: dict | None = None) -> dict:
        """Append ``df`` as a new snapshot that REFERENCES the current
        snapshot's data files plus the newly written ones — real
        Iceberg append semantics: only the batch's files hit disk, the
        corpus is never rewritten (the 100 TB shape for incremental
        signature indexes).  Lineage part ids continue from the prior
        snapshot; falls back to a plain ``write`` when the table does
        not exist yet.  The commit is still one atomic manifest rename,
        so a mid-append kill leaves the previous snapshot intact."""
        current = self.current_manifest(table)
        if current is None:
            return self._write_snapshot(table, df, None, lineage_key,
                                        properties, base=None)
        # names AND types: a name-only check would commit e.g. an
        # int-typed id into a long-typed table and only fail (or
        # silently coerce) at a much later read.  Nullability compares
        # DIRECTIONALLY: required-into-optional is accepted (compacted
        # tables are always on the optional side — the parquet reader
        # widens every flag), optional-into-required is rejected.
        committed = current["schema"]
        incoming = df.schema.jsonValue()
        if (_strip_null_flags(committed) != _strip_null_flags(incoming)
                or not _nullability_superset(committed, incoming)):
            raise ValueError(
                "append schema mismatch for table %r: committed %s "
                "vs incoming %s" % (table, committed["fields"],
                                    incoming["fields"]))
        if current["partition_by"]:
            # directory-partitioned values live in dir names, and a
            # multi-root read cannot re-infer them reliably — a real
            # Iceberg catalog appends into the same partition spec; the
            # shim keeps appends to unpartitioned tables only (signature
            # indexes etc.), loudly.
            raise ValueError("append to a partitioned table is not "
                             "supported by the Icebergish shim (%r)"
                             % table)
        # the COMMITTED schema stays the manifest schema: an append of
        # a stricter-nullability frame (common with literal columns)
        # must not silently tighten the table's contract, or the next
        # nullable append would be rejected.  Shape equality is already
        # guaranteed above.
        return self._write_snapshot(
            table, df, None, lineage_key, properties, base=current,
            operation="append", schema_json=current["schema"],
            stats_columns=current.get("stats_columns") or None)

    def _write_snapshot(self, table: str, df: DataFrame,
                        partition_by: list[str] | None,
                        lineage_key: str | None,
                        properties: dict | None,
                        base: dict | None,
                        schema_json: dict | None = None,
                        operation: str = "overwrite",
                        stats_columns: list[str] | None = None,
                        cluster_by: list[str] | None = None) -> dict:
        # validate the stats spec BEFORE any data is written, so a bad
        # spec fails side-effect-free instead of leaving an orphaned
        # uncommitted snapshot directory behind
        stat_cols = list(stats_columns or [])
        if stat_cols:
            by_name = {f.name: f for f in df.schema.fields}
            for c in stat_cols:
                if c not in by_name:
                    raise ValueError("stats column %r not in schema" % c)
                t = by_name[c].dataType.simpleString()
                if t not in _STATS_TYPES:
                    raise ValueError(
                        "stats column %r has type %s, whose min/max do "
                        "not JSON-round-trip with ordering intact; "
                        "supported: %s" % (c, t, ", ".join(_STATS_TYPES)))

        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        current = self.current_manifest(table)
        snapshot_id = (current["snapshot_id"] + 1) if current else 0
        snap_dir = os.path.join(tdir, "snap-%06d" % snapshot_id)

        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_dir)

        # Per-file lineage from the parquet footers of what was just
        # written (Iceberg builds its manifest metrics the same way), not
        # from a re-read: sorted paths make part ids — and the manifest
        # bytes — replay-deterministic.  0-row files (an empty task's
        # output) are omitted.
        key = lineage_key or df.columns[0]
        types = {f.name: f.dataType.simpleString() for f in df.schema}
        base_lineage = list(base["lineage"]) if base else []
        base_dirs = (base.get("dirs", [base["dir"]]) if base else [])
        lineage = []
        for rel in _data_files(snap_dir):
            rows, stats = _footer_stats(os.path.join(snap_dir, rel),
                                        {key, *stat_cols})
            if not rows:
                continue
            part_values = _partition_values(rel)
            if key in part_values:    # constant within its directory
                lo = hi = part_values[key]
            else:
                mn, mx, _nulls = stats.get(key, (None, None, 0))
                lo = _span_text(mn, types[key])
                hi = _span_text(mx, types[key])
            entry = {"part_id": len(base_lineage) + len(lineage),
                     "file": rel,
                     "dir": os.path.basename(snap_dir),
                     "input_min": lo, "input_max": hi,
                     "row_count": rows}
            if stat_cols:
                # a session-zone timestamp records none: Spark writes it
                # as INT96, which has no footer min/max, and under another
                # outputTimestampType the footer holds a UTC instant that
                # does not compare with a caller's local-time bound
                entry["stats"] = {
                    c: {"min": _stat_key(stats[c][0]),
                        "max": _stat_key(stats[c][1]),
                        "nulls": stats[c][2]}
                    for c in stat_cols
                    if c in stats and types[c] != "timestamp"}
            lineage.append(entry)
        lineage = base_lineage + lineage
        row_count = sum(p["row_count"] for p in lineage)
        counts = [p["row_count"] for p in lineage] or [0]
        merged_props = dict(base["properties"]) if base else {}
        merged_props.update(properties or {})
        manifest = {
            "table": table,
            "schema": schema_json or df.schema.jsonValue(),
            "snapshot_id": snapshot_id,
            # commit wall time (epoch seconds): what age-based
            # expire_snapshots(older_than=...) keys on.  The DATA stays
            # replay-deterministic (sorted lineage, stable part ids);
            # only this ops-metadata field varies between replays.
            "committed_at": time.time(),
            "operation": operation,
            "dir": os.path.basename(snap_dir),
            "dirs": base_dirs + [os.path.basename(snap_dir)],
            "row_count": row_count,
            "partition_by": partition_by or [],
            "stats_columns": stat_cols,
            "cluster_by": list(cluster_by or
                               (base.get("cluster_by", []) if base else [])),
            "skew": {"partitions": len(counts),
                     "max_rows": max(counts), "min_rows": min(counts),
                     "mean_rows": row_count / max(len(counts), 1)},
            "properties": merged_props,
            "lineage": lineage,
        }
        tmp = self._manifest_path(table, snapshot_id) + ".tmp"
        with open(tmp, "w") as fp:
            json.dump(manifest, fp, indent=1)
        os.replace(tmp, self._manifest_path(table, snapshot_id))  # commit
        return manifest

    # ------------------------------------------------------------- read

    def _manifest_for(self, table: str,
                      snapshot_id: int | None = None) -> dict:
        """Resolve the manifest to read: current, or a pinned snapshot
        id (Iceberg's VERSION AS OF).  Only RETAINED snapshots are
        reachable: after ``expire_snapshots`` the expired history is
        gone, exactly like Iceberg."""
        if snapshot_id is not None:
            path = self._manifest_path(table, snapshot_id)
            if not os.path.exists(path):
                raise FileNotFoundError(
                    "table %r has no retained snapshot %d (expired or "
                    "never committed)" % (table, snapshot_id))
            with open(path) as fp:
                return json.load(fp)
        manifest = self.current_manifest(table)
        if manifest is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        return manifest

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read a committed snapshot — the current one by default, or a
        pinned ``snapshot_id`` (Iceberg ``VERSION AS OF``)."""
        manifest = self._manifest_for(table, snapshot_id)
        from pyspark.sql import types as T
        dirs = manifest.get("dirs", [manifest["dir"]])
        return self.spark.read.schema(
            T.StructType.fromJson(manifest["schema"])).parquet(
            *[os.path.join(self._table_dir(table), d) for d in dirs])

    def pruned_files(self, table: str, where: dict) -> tuple[list[dict], int]:
        """Manifest-stats file pruning (Iceberg's manifest-entry min/max
        evaluation, the zone-map idea): given ``where`` as
        ``{column: (lo, hi)}`` inclusive bounds (either side ``None`` =
        unbounded), return ``(surviving lineage entries, total file
        count)``.  A file survives unless its recorded stats PROVE no
        row can match: its [min, max] misses the bound interval, or
        every value in it is null (a BETWEEN/range predicate never
        matches null).  Files with no recorded stats for a queried
        column always survive — stats only ever skip, never decide, so
        pruning is correct on any layout and merely ineffective on a
        bad one.  Pure manifest work: zero data I/O, O(files) driver
        time — at 100 TB this is the difference between opening every
        parquet footer and opening none."""
        manifest = self._manifest_for(table)
        if manifest["partition_by"]:
            # hive-partitioned values live in directory names, which a
            # per-file read does not re-infer — partition pruning
            # already covers those tables (Spark prunes partition dirs
            # natively).
            raise ValueError("read_where/pruned_files support "
                             "unpartitioned tables only (%r is "
                             "partitioned; directory-level partition "
                             "pruning applies there instead)" % table)
        bounds = {c: (_stat_key(lo), _stat_key(hi))
                  for c, (lo, hi) in where.items()}
        entries = manifest["lineage"]
        kept = []
        for e in entries:
            st = e.get("stats", {})
            for c, (lo, hi) in bounds.items():
                s = st.get(c)
                if s is None:
                    continue                      # no stats: must keep
                if s["nulls"] == e["row_count"]:
                    break                         # all-null file: skip
                if s["min"] is None:              # empty file
                    break
                if lo is not None and s["max"] < lo:
                    break
                if hi is not None and s["min"] > hi:
                    break
            else:
                kept.append(e)
        return kept, len(entries)

    def read_where(self, table: str, where: dict) -> DataFrame:
        """Stats-pruned range scan: read only the data files whose
        manifest min/max can overlap ``where`` (``{col: (lo, hi)}``
        inclusive, ``None`` = unbounded), then apply the SAME predicate
        as a residual Spark filter — stats decide which files to open,
        the filter decides which rows qualify, so the result is
        row-identical to ``read(...).filter(...)`` on every layout.
        Pair with ``write(cluster_by=[col])`` to make the skip rate
        real (see ``write``)."""
        manifest = self._manifest_for(table)
        kept, _total = self.pruned_files(table, where)
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(manifest["schema"])
        if not kept:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self._table_dir(table), e["dir"], e["file"])
                  for e in kept])
        cond = F.lit(True)
        for c, (lo, hi) in where.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
            if lo is None and hi is None:
                cond = cond & F.col(c).isNotNull()
        return df.filter(cond)

    def read_changes(self, table: str, from_snapshot_id: int,
                     to_snapshot_id: int | None = None) -> DataFrame:
        """Iceberg incremental append scan: the rows committed AFTER
        ``from_snapshot_id`` up to and including ``to_snapshot_id``
        (default: current).  Reads ONLY the appended snapshot dirs —
        O(delta) data I/O, never O(table) — which is what lets a
        downstream incremental job re-derive state from just the new
        rows at 100 TB.  The span must be append-only: compaction /
        overwrite rewrites data files, so an appended-dirs diff would
        double- or under-count — detected via the dirs-prefix check and
        raised loudly, matching Iceberg's incremental-scan restriction."""
        frm = self._manifest_for(table, from_snapshot_id)
        to = self._manifest_for(table, to_snapshot_id)
        if to["snapshot_id"] < frm["snapshot_id"]:
            raise ValueError(
                "to_snapshot_id %d precedes from_snapshot_id %d"
                % (to["snapshot_id"], frm["snapshot_id"]))
        from pyspark.sql import types as T
        from_dirs = frm.get("dirs", [frm["dir"]])
        to_dirs = to.get("dirs", [to["dir"]])
        if to_dirs[:len(from_dirs)] != from_dirs:
            raise ValueError(
                "history of table %r between snapshots %d and %d is not "
                "append-only (a compaction or overwrite rewrote data "
                "files); incremental read is undefined"
                % (table, frm["snapshot_id"], to["snapshot_id"]))
        schema = T.StructType.fromJson(to["schema"])
        delta = to_dirs[len(from_dirs):]
        if not delta:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self._table_dir(table), d) for d in delta])

    def history(self, table: str) -> DataFrame:
        """The table's retained snapshot log as a DataFrame — Iceberg's
        ``table.history()``/``snapshots`` metadata view: (snapshot_id,
        committed_at, operation, row_count, n_files), oldest first.
        Reads only manifest JSON — no data files touched."""
        rows = []
        for fname in self._list_manifests(table):
            with open(os.path.join(self._table_dir(table), fname)) as fp:
                m = json.load(fp)
            rows.append((m["snapshot_id"], float(m["committed_at"]),
                         m.get("operation", "overwrite"),
                         m["row_count"],
                         len(m.get("dirs", [m["dir"]]))))
        if not rows:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        return self.spark.createDataFrame(
            rows, "snapshot_id int, committed_at double,"
                  " operation string, row_count long, n_data_dirs int")

    def lineage(self) -> DataFrame:
        """All committed lineage rows of every table as a queryable
        DataFrame (stage, part_id, file, input span, row_count) — the
        ops introspection surface the north_rule's per-partition
        lineage exists for."""
        rows = []
        tables = sorted(t for t in os.listdir(self.root)
                        if os.path.isdir(self._table_dir(t)))
        for t in tables:
            manifest = self.current_manifest(t)
            if manifest is None:
                continue
            for part in manifest["lineage"]:
                rows.append((t, manifest["snapshot_id"], part["part_id"],
                             part["file"], part["input_min"],
                             part["input_max"], part["row_count"]))
        return self.spark.createDataFrame(
            rows, "stage string, snapshot_id int, part_id int, file string,"
                  " input_min string, input_max string, row_count long")

    # ------------------------------------------------------ maintenance

    def compact(self, table: str, target_files: int | None = None,
                rows_per_file: int = 4_000_000,
                lineage_key: str | None = None) -> dict:
        """Rewrite the current snapshot's accumulated data files into
        ONE fresh snapshot — Iceberg's ``rewrite_data_files``
        maintenance action, the cure for the small-file buildup every
        append-per-batch flow (incremental signature indexes, CDC
        merges) creates: at 100 TB a table touched by thousands of
        micro-batches otherwise degrades every scan with
        file-open/footer overhead and per-file lineage bloat.

        Row-identical by construction (one read, one write, no
        transformation — equality pytest-pinned); table properties and
        the partition spec carry over; lineage is rebuilt over the new
        files.  The commit is the same single atomic manifest rename,
        so a kill mid-compact leaves the previous snapshot current and
        the half-written dir invisible (resume-safe, same argument as
        ``write``).  ``target_files`` overrides the row-count-derived
        file budget (``ceil(row_count / rows_per_file)``).
        """
        current = self.current_manifest(table)
        if current is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        n_files = target_files or max(
            1, -(-current["row_count"] // int(rows_per_file)))
        df = self.read(table)
        # coalesce, not repartition: compaction must not pay a full
        # shuffle of the table — file merging is a read-concat-write
        df = df.coalesce(int(n_files))
        # the manifest keeps the COMMITTED schema verbatim: Spark's
        # parquet reader widens every nullability flag, and letting
        # that leak into the manifest would silently relax the table's
        # contract on every compaction
        return self._write_snapshot(
            table, df, current["partition_by"] or None, lineage_key,
            dict(current["properties"]), base=None,
            schema_json=current["schema"], operation="replace",
            stats_columns=current.get("stats_columns") or None,
            cluster_by=current.get("cluster_by") or None)

    def expire_snapshots(self, table: str, keep_last: int = 1,
                         older_than: float | None = None) -> dict:
        """Drop old manifests and delete every snapshot directory no
        KEPT manifest references — Iceberg's ``expire_snapshots`` +
        ``remove_orphan_files``.  The last ``keep_last`` manifests are
        always kept; with ``older_than`` (epoch seconds — Iceberg's
        ``older_than`` timestamp), manifests committed AT OR AFTER the
        cutoff are additionally retained, so only history that is both
        beyond ``keep_last`` and genuinely old is dropped (manifests
        predating the ``committed_at`` field count as age 0 — old).
        Append chains share directories across manifests, so directory
        removal is reference-counted against the kept set.  Returns
        ``{kept_manifests, removed_dirs}``."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        tdir = self._table_dir(table)
        manifests = self._list_manifests(table)
        if not manifests:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        kept, dropped = list(manifests[-keep_last:]), []
        for name in manifests[:-keep_last]:
            if older_than is not None:
                with open(os.path.join(tdir, name)) as fp:
                    committed = json.load(fp).get("committed_at", 0.0)
                if committed >= older_than:
                    kept.append(name)
                    continue
            dropped.append(name)
        referenced: set[str] = set()
        for name in kept:
            with open(os.path.join(tdir, name)) as fp:
                m = json.load(fp)
            referenced.update(m.get("dirs", [m["dir"]]))
        for name in dropped:
            os.remove(os.path.join(tdir, name))
        removed = []
        for entry in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, entry)
            if (os.path.isdir(path) and entry.startswith("snap-")
                    and entry not in referenced):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(entry)
        return {"kept_manifests": len(kept), "removed_dirs": removed}

    def file_stats(self, table: str) -> dict:
        """Manifest-only file statistics — no data pass: ``{n_files,
        row_count, median_rows, min_rows}`` over the current snapshot's
        data files.  What compaction POLICY decisions key on."""
        current = self.current_manifest(table)
        if current is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        counts = sorted(p["row_count"] for p in current["lineage"]) or [0]
        n = len(counts)
        median = (counts[n // 2] if n % 2
                  else (counts[n // 2 - 1] + counts[n // 2]) / 2.0)
        return {"n_files": n, "row_count": current["row_count"],
                "median_rows": median, "min_rows": counts[0]}

    def needs_compaction(self, table: str, max_files: int | None = None,
                         min_rows_per_file: int | None = None) -> bool:
        """Manifest-stat compaction policy (Iceberg's
        ``rewrite_data_files`` trigger conditions): True when the
        current snapshot holds more than ``max_files`` data files, or
        when the MEDIAN file has fewer than ``min_rows_per_file`` rows
        (median, not mean — one legitimately large seed file must not
        mask a tail of per-batch slivers).  With neither bound given
        the answer is False: an unconditional sweep stays an explicit
        ``compact()`` call."""
        stats = self.file_stats(table)
        if max_files is not None and stats["n_files"] > int(max_files):
            return True
        if (min_rows_per_file is not None
                and stats["median_rows"] < int(min_rows_per_file)):
            return True
        return False

    def maintain(self, table: str, max_files: int | None = None,
                 min_rows_per_file: int | None = None,
                 keep_last: int = 1, older_than: float | None = None,
                 rows_per_file: int = 4_000_000) -> dict:
        """Policy-driven maintenance: compact IFF the manifest stats
        say so (:meth:`needs_compaction` — with no bounds given,
        always), verify the rewrite preserved the row count BEFORE any
        history is dropped, then expire snapshots.  The decision reads
        only the manifest, so calling this every micro-batch costs one
        JSON read when the policy says no.  Returns ``{compacted,
        files_before, files_after, rows, dirs_removed}``."""
        before = self.file_stats(table)
        unconditional = max_files is None and min_rows_per_file is None
        if not (unconditional or self.needs_compaction(
                table, max_files, min_rows_per_file)):
            return {"compacted": False, "files_before": before["n_files"],
                    "files_after": before["n_files"],
                    "rows": before["row_count"], "dirs_removed": 0}
        m = self.compact(table, rows_per_file=rows_per_file)
        if m["row_count"] != before["row_count"]:
            raise RuntimeError(
                "compaction changed row count for %s: %d -> %d; "
                "refusing to expire pre-compaction snapshots"
                % (table, before["row_count"], m["row_count"]))
        gc = self.expire_snapshots(table, keep_last=keep_last,
                                   older_than=older_than)
        return {"compacted": True, "files_before": before["n_files"],
                "files_after": len(m["lineage"]),
                "rows": m["row_count"],
                "dirs_removed": len(gc["removed_dirs"])}

    # ---------------------------------------------------------- cleanup

    def drop(self, table: str) -> None:
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def invalidate(self, table: str) -> None:
        """Remove the commit record but keep data dirs — simulates a
        kill between data write and manifest commit (for resume tests)."""
        tdir = self._table_dir(table)
        for name in self._list_manifests(table):
            os.remove(os.path.join(tdir, name))
