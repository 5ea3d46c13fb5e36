"""Versioned table format — a minimal transaction log over parquet
(Delta/Iceberg-style), closing the lakehouse gap left by the plain
partition-overwrite merge in :mod:`sources.merge`.

The reference has no I/O at all (SURVEY §2.3); this is driver-brief
extension surface: a 100 TB training-data pipeline needs atomic
multi-file commits, snapshot-isolated readers, time travel for
reproducible training runs ("train on the corpus exactly as it was at
version 12"), and safe vacuuming of dead files. The design follows the
public Delta Lake / Iceberg papers' shape, re-expressed minimally:

- **Data files are immutable.** Every commit writes new parquet files
  under ``<table>/data/`` with a unique prefix; nothing is ever
  modified in place, so a reader pinned to a version can never observe
  a torn write.
- **The log is the table.** ``<table>/_log/<20-digit-version>.json``
  holds one commit each: ``{version, ts_ms, op, add: [...], remove:
  [...]}`` where each ``add`` carries the file's row count and per-key
  min/max stats (read from the parquet *footer* — metadata, not data).
  The active file set at version V = replay of adds minus removes.
- **Checkpoints bound replay.** Every ``checkpoint_interval`` commits,
  a ``<v>.checkpoint.json`` snapshots the full active set, so loading
  a snapshot reads one checkpoint + at most ``interval`` deltas —
  O(interval), not O(history). This is exactly Delta's checkpoint
  parquet, minus the parquet.
- **Commits are atomic + optimistic.** A writer prepares data files,
  then claims version N+1 via ``os.link`` (POSIX hard-link creation is
  atomic and fails if the name exists). Losing a race means re-reading
  the log and retrying the *commit*, never rewriting the data files.
  On object storage this maps to conditional PUT (S3
  ``If-None-Match``) or a commit service — same protocol, same code
  shape.
- **MERGE is file-pruned copy-on-write.** An upsert batch rewrites
  only the data files whose [min,max] key range (from footer stats)
  intersects the batch's keys; untouched files are carried by
  reference. At 1000 executors the rewrite parallelizes per touched
  file and the rest of the 100 TB table is never opened — the same
  O(touched), not O(table), contract as ``merge.py``, but with ACID
  versioning and no partition-column requirement.

Local-filesystem primitives (``os.link``/``os.replace``) stand in for
the object-store commit protocol; everything Spark-side (file-list
reads, pruned rewrites) is cluster-ready as-is.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["VersionedTable", "CommitConflict"]

_LOG_DIR = "_log"
_DATA_DIR = "data"


class CommitConflict(RuntimeError):
    """Another writer claimed the version (surfaced after retries)."""


@dataclass
class _Snapshot:
    version: int
    files: dict[str, dict]  # relpath -> {rows, stats:{col:{min,max}}}
    ts_ms: int = 0
    #: merge-on-read deletion vectors: relpath -> sorted row positions
    #: deleted from that file (absent ⇒ no deletions)
    dvs: dict[str, list[int]] = field(default_factory=dict)


_BLOOM_BITS = 8192
_BLOOM_K = 5


def _bloom_positions(value, bits: int, k: int):
    """k bit positions for one value. Canonical form is ``str(value)``
    (identical on writer and reader); md5 keeps the positions
    engine/version-stable, unlike Python's salted ``hash()``."""
    s = str(value)
    for i in range(k):
        h = hashlib.md5(f"{i}:{s}".encode()).digest()
        yield int.from_bytes(h[:8], "big") % bits


def _bloom_build(values, bits: int = _BLOOM_BITS, k: int = _BLOOM_K) -> dict:
    ba = bytearray(bits // 8)
    for v in values:
        if v is None:
            continue
        for pos in _bloom_positions(v, bits, k):
            ba[pos >> 3] |= 1 << (pos & 7)
    return {"bits": bits, "k": k,
            "b64": base64.b64encode(bytes(ba)).decode()}


def bloom_might_contain(bloom: dict, value) -> bool:
    """False ⇒ the value is PROVABLY absent from the file; True means
    only "maybe" (false-positive rate ~(1-e^{-kn/m})^k)."""
    ba = base64.b64decode(bloom["b64"])
    return all(
        ba[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_positions(value, bloom["bits"], bloom["k"])
    )


def file_add_action(table_path: str, fpath: str,
                    key_cols: list[str],
                    bloom_cols: list[str] | tuple[str, ...] = ()) -> dict:
    """Add-action for one parquet file: footer-derived row count and
    key min/max stats (metadata reads only, never data), plus an
    optional Bloom filter per ``bloom_cols`` column.

    Blooms are the point-lookup complement to min/max: a
    high-cardinality key's [min, max] spans almost everything (range
    stats prune nothing for ``k = 12345``), while a 1 KiB bloom
    answers "provably not in this file" per EXACT value. Building one
    reads that COLUMN's data (not just footers) — opt-in per column,
    O(column bytes) at write time, amortized over every point lookup
    the table ever serves."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(fpath)
    meta = pf.metadata
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    stats: dict[str, dict] = {}
    for k in key_cols:
        if k not in idx:
            continue
        lo = hi = None
        for rg in range(meta.num_row_groups):
            s = meta.row_group(rg).column(idx[k]).statistics
            if s is None or not s.has_min_max:
                lo = hi = None
                break
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            stats[k] = {"min": lo, "max": hi}
    for c in bloom_cols:
        if c not in idx:
            continue
        # Bloom membership compares str() canonical forms across two
        # independent paths (pyarrow to_pylist at write time, the
        # Spark-pushed filter value at probe time). Those agree only
        # for integers and strings; floats, decimals, and timestamps
        # have repr-divergent canonical forms (Decimal('1.50') vs
        # Decimal('1.5'), tz-aware reprs), where a mismatch is a FALSE
        # NEGATIVE — a file wrongly pruned and rows silently missing
        # from results. Validate at write time, loudly.
        import pyarrow.types as pat

        ftype = pf.schema_arrow.field(c).type
        if not (pat.is_integer(ftype) or pat.is_string(ftype)
                or pat.is_large_string(ftype)):
            raise TypeError(
                f"bloom_cols supports integer/string columns only; "
                f"{c!r} is {ftype} (str() canonicalization is not "
                f"stable across writer and probe for this type)")
        col = pf.read(columns=[c]).column(c)
        stats.setdefault(c, {})["bloom"] = _bloom_build(
            dict.fromkeys(col.to_pylist()))
    return {
        "path": os.path.relpath(fpath, table_path),
        "rows": meta.num_rows,
        "stats": stats,
    }


@dataclass
class VersionedTable:
    """Handle to a versioned parquet table rooted at ``path``.

    ``key_cols`` are the merge keys whose per-file min/max stats are
    recorded at write time and drive file pruning in :meth:`merge`.
    """

    spark: SparkSession
    path: str
    key_cols: list[str] = field(default_factory=list)
    bloom_cols: list[str] = field(default_factory=list)
    checkpoint_interval: int = 10
    max_commit_retries: int = 10

    # ------------------------------------------------------------ log I/O

    def _log_path(self, version: int, checkpoint: bool = False) -> str:
        suffix = ".checkpoint.json" if checkpoint else ".json"
        return os.path.join(self.path, _LOG_DIR, f"{version:020d}{suffix}")

    def _list_log(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions), each sorted."""
        log_dir = os.path.join(self.path, _LOG_DIR)
        if not os.path.isdir(log_dir):
            return [], []
        commits, checkpoints = [], []
        for name in os.listdir(log_dir):
            if name.endswith(".checkpoint.json"):
                checkpoints.append(int(name.split(".")[0]))
            elif name.endswith(".json"):
                commits.append(int(name.split(".")[0]))
        return sorted(commits), sorted(checkpoints)

    def latest_version(self) -> int | None:
        commits, _ = self._list_log()
        return commits[-1] if commits else None

    def history(self) -> list[dict]:
        """Commit metadata, oldest first (version, ts_ms, op, file deltas)."""
        commits, _ = self._list_log()
        out = []
        for v in commits:
            with open(self._log_path(v)) as f:
                c = json.load(f)
            out.append({
                "version": c["version"], "ts_ms": c["ts_ms"], "op": c["op"],
                "n_added": len(c["add"]), "n_removed": len(c["remove"]),
            })
        return out

    def _snapshot(self, version: int | None = None,
                  as_of_ts_ms: int | None = None) -> _Snapshot:
        """Reconstruct the active file set: nearest checkpoint ≤ target,
        then replay the ≤``checkpoint_interval`` commits after it."""
        commits, checkpoints = self._list_log()
        if not commits:
            raise FileNotFoundError(f"no versioned table at {self.path}")
        if as_of_ts_ms is not None:
            version = None
            for v in commits:
                with open(self._log_path(v)) as f:
                    if json.load(f)["ts_ms"] <= as_of_ts_ms:
                        version = v
            if version is None:
                raise ValueError(
                    f"no version at or before ts {as_of_ts_ms}")
        target = commits[-1] if version is None else version
        if target not in commits:
            raise ValueError(f"version {target} not in log "
                             f"(have {commits[0]}..{commits[-1]})")
        base = max((c for c in checkpoints if c <= target), default=None)
        files: dict[str, dict] = {}
        dvs: dict[str, list[int]] = {}
        ts_ms = 0
        if base is not None:
            with open(self._log_path(base, checkpoint=True)) as f:
                cp = json.load(f)
            files = {a["path"]: a for a in cp["files"]}
            dvs = {k: v for k, v in cp.get("dvs", {}).items() if v}
            ts_ms = cp["ts_ms"]
        for v in commits:
            if v <= (base or -1) or v > target:
                continue
            with open(self._log_path(v)) as f:
                c = json.load(f)
            for rel in c["remove"]:
                files.pop(rel, None)
                dvs.pop(rel, None)
            for a in c["add"]:
                files[a["path"]] = a
                dvs.pop(a["path"], None)  # (re)written file: fresh, no DV
            # deletion-vector REPLACEMENTS: each entry is the file's
            # full cumulative DV at this commit; [] clears it
            for rel, positions in c.get("dv", {}).items():
                if rel in files:
                    if positions:
                        dvs[rel] = positions
                    else:
                        dvs.pop(rel, None)
            ts_ms = c["ts_ms"]
        return _Snapshot(target, files, ts_ms, dvs)

    # --------------------------------------------------------- data files

    def _write_data_files(self, df: DataFrame) -> list[dict]:
        """Write ``df`` as immutable parquet files under data/ with a
        fresh unique prefix; return add-actions with footer-derived
        row counts and key min/max stats (metadata reads only)."""
        import pyarrow.parquet as pq

        token = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.path, _DATA_DIR, token)
        df.write.mode("error").parquet(out_dir)
        return [
            file_add_action(self.path, os.path.join(out_dir, name),
                            self.key_cols, self.bloom_cols)
            for name in sorted(os.listdir(out_dir))
            if name.endswith(".parquet")
        ]

    # ------------------------------------------------------------ commits

    def _commit(self, op: str, add: list[dict], remove: list[str],
                expected_version: int | None,
                schema_json: str | None = None,
                dv: dict[str, list[int]] | None = None) -> int:
        """Atomically claim the next version. ``expected_version`` is
        the snapshot the writer based its work on; if another commit
        landed since, operations that are not blind appends raise
        :class:`CommitConflict` for the caller to re-derive (standard
        optimistic concurrency — data files are never re-written, only
        the commit is retried)."""
        log_dir = os.path.join(self.path, _LOG_DIR)
        os.makedirs(log_dir, exist_ok=True)
        for _ in range(self.max_commit_retries):
            current = self.latest_version()
            if expected_version is not None and current != expected_version:
                raise CommitConflict(
                    f"table advanced to v{current} past expected "
                    f"v{expected_version}; re-derive and retry")
            version = 0 if current is None else current + 1
            record = {
                "version": version,
                "ts_ms": int(time.time() * 1000),
                "op": op,
                "add": add,
                "remove": remove,
            }
            if schema_json is not None:
                record["schema"] = schema_json
            if dv:
                record["dv"] = dv
            tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(record, f)
            try:
                os.link(tmp, self._log_path(version))  # atomic claim
            except FileExistsError:
                os.unlink(tmp)
                if expected_version is not None:
                    raise CommitConflict(
                        f"lost the race for v{version}") from None
                continue  # blind append: race is benign, take next slot
            os.unlink(tmp)
            self._maybe_checkpoint(version)
            return version
        raise CommitConflict(
            f"could not claim a version after {self.max_commit_retries} tries")

    def _maybe_checkpoint(self, version: int) -> None:
        if version == 0 or version % self.checkpoint_interval != 0:
            return
        snap = self._snapshot(version)
        cp = {"version": version, "ts_ms": snap.ts_ms,
              "files": list(snap.files.values())}
        if snap.dvs:
            cp["dvs"] = snap.dvs
        # Persist the effective schema so table_schema() replay stops at
        # the checkpoint instead of walking the whole commit history.
        schema = self.table_schema(version)
        if schema is not None:
            cp["schema"] = schema.json()
        tmp = os.path.join(self.path, _LOG_DIR,
                           f".tmp-cp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(cp, f)
        os.replace(tmp, self._log_path(version, checkpoint=True))

    # ------------------------------------------------------------ schema

    def table_schema(self, version: int | None = None):
        """The committed logical schema at ``version`` (latest schema-
        bearing commit at or before it) — None for pre-schema-tracking
        tables. Commit logs survive vacuum, so this never loses the
        schema history.

        Replay is BACKWARD from the target and stops at the first
        schema-bearing commit or at a schema-carrying checkpoint, so
        the cost is O(commits since the last schema change), bounded by
        ``checkpoint_interval`` once a checkpoint has landed — not
        O(history), which would defeat the checkpoint mechanism."""
        from pyspark.sql.types import StructType

        commits, checkpoints = self._list_log()
        if not commits:
            return None
        target = commits[-1] if version is None else version
        base = max((c for c in checkpoints if c <= target), default=None)

        def _from_json(s):
            return None if s is None else StructType.fromJson(json.loads(s))

        for v in reversed(commits):
            if v > target:
                continue
            if base is not None and v <= base:
                break
            with open(self._log_path(v)) as f:
                rec = json.load(f)
            if "schema" in rec:
                return _from_json(rec["schema"])
        if base is not None:
            with open(self._log_path(base, checkpoint=True)) as f:
                cp = json.load(f)
            if "schema" in cp:
                return _from_json(cp["schema"])
            # pre-schema-checkpoint file: fall through to the commits
            # below the checkpoint (older tables only)
            for v in reversed(commits):
                if v > base:
                    continue
                with open(self._log_path(v)) as f:
                    rec = json.load(f)
                if "schema" in rec:
                    return _from_json(rec["schema"])
        return None

    def _evolved_schema(self, batch_schema, merge_schema: bool,
                        cur=None) -> str:
        """Validate a batch's StructType against the current table
        schema and return the post-commit schema JSON. Without
        ``merge_schema`` the column sets must match exactly; with it,
        NEW columns append to the table schema (readers see NULL for
        them in old files — parquet scan with an explicit wider
        schema). Same-name type conflicts always raise: silent
        coercion corrupts data. ``cur`` pins the table schema the
        caller already read (so schema and the version it belongs to
        stay consistent); when omitted the latest is read here."""
        if cur is None:
            cur = self.table_schema()
        if cur is None:
            return batch_schema.json()
        cur_fields = {f.name: f for f in cur.fields}
        new_fields = {f.name: f for f in batch_schema.fields}
        for name, f in new_fields.items():
            if name in cur_fields and cur_fields[name].dataType != f.dataType:
                raise ValueError(
                    f"type conflict on column {name!r}: table has "
                    f"{cur_fields[name].dataType}, batch has {f.dataType}")
        extra = [n for n in new_fields if n not in cur_fields]
        missing = [n for n in cur_fields if n not in new_fields]
        if not merge_schema and (extra or missing):
            raise ValueError(
                f"schema mismatch (extra={extra}, missing={missing}); "
                f"pass merge_schema=True to evolve")
        from pyspark.sql.types import StructType

        evolved = StructType(
            cur.fields + [new_fields[n] for n in extra
                          if n not in cur_fields])
        return evolved.json()

    # ----------------------------------------------------------- mutations

    def _rel_expr(self):
        r"""Relpath of the scanned file, from the hidden ``_metadata``
        column (``\Q..\E`` quoting keeps the root literal).

        ``_metadata.file_path`` is a URI, so a table root with
        URI-special characters (spaces → ``%20``) would not match the
        raw-path pattern; a percent-encoded variant of the root is
        tried as a fallback. If NEITHER matches (symlinked roots, an
        encoding this did not anticipate), the expression raises
        instead of yielding ``''`` — an empty relpath would make the
        deletion-vector anti-join in ``_read_pinned`` match nothing
        and silently resurrect tombstoned rows, which for the GDPR-
        erasure use case must be a loud failure, never a quiet one."""
        from urllib.parse import quote

        root = os.path.abspath(self.path)
        fp = F.col("_metadata.file_path")
        rel_raw = F.regexp_extract(fp, "\\Q" + root + "/\\E(.*)$", 1)
        enc = quote(root, safe="/")
        rel_enc = (rel_raw if enc == root else
                   F.regexp_extract(fp, "\\Q" + enc + "/\\E(.*)$", 1))
        rel = F.when(rel_raw != "", rel_raw).otherwise(rel_enc)
        return F.when(rel != "", rel).otherwise(F.raise_error(F.concat(
            F.lit("table root "), F.lit(root),
            F.lit(" not found in scanned file path "), fp,
            F.lit(" — deletion vectors cannot be applied safely"))))

    def _read_pinned(self, rels, schema, dvs=None, *,
                     keep_positions: bool = False) -> DataFrame:
        """Read data files with the COMMITTED schema (when one exists)
        rather than inferring from one file: after schema evolution a
        mixed-age file set would otherwise infer from a pre-evolution
        file and silently drop the evolved column from any rewrite —
        reads would then return NULL where data existed.

        ``dvs`` applies merge-on-read deletion vectors: rows whose
        (file, row position) is tombstoned anti-join out against a
        broadcast of the (metadata-sized) position list — the files
        themselves stay immutable. ``keep_positions=True`` retains the
        ``__rel``/``__pos`` columns for callers that need row
        addresses (``delete_mor``)."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(
            *[os.path.join(self.path, r) for r in rels])
        live = {r: dvs[r] for r in rels if r in dvs} if dvs else {}
        if not live and not keep_positions:
            return df
        df = df.withColumn("__rel", self._rel_expr()).withColumn(
            "__pos", F.col("_metadata.row_index"))
        if live:
            dv_rows = [(rel, int(p)) for rel, ps in live.items()
                       for p in ps]
            dv_df = self.spark.createDataFrame(
                dv_rows, "__rel string, __pos long")
            df = df.join(F.broadcast(dv_df), ["__rel", "__pos"],
                         "left_anti")
        return df if keep_positions else df.drop("__rel", "__pos")

    def create(self, df: DataFrame) -> int:
        """Bootstrap version 0. Fails if the table already exists."""
        if self.latest_version() is not None:
            raise FileExistsError(f"table already exists at {self.path}")
        return self._commit("create", self._write_data_files(df), [], None,
                            schema_json=df.schema.json())

    def append(self, df: DataFrame, *, merge_schema: bool = False) -> int:
        """Append — add-only. When the batch schema equals the current
        table schema the commit is BLIND (no schema record, conflict-
        free by construction: two concurrent appends both succeed in
        either order). ``merge_schema=True`` lets the batch ADD columns
        (schema evolution): the committed schema widens, and readers
        see NULL for the new columns in pre-evolution files. A schema-
        CHANGING append commits with ``expected_version`` and re-derives
        the evolved schema on conflict — otherwise two concurrent
        evolving appends could interleave so the later commit carries a
        stale schema missing the other writer's column, making that
        column's data invisible to readers. The version is pinned
        FIRST and the schema read AT that version: sampling
        ``latest_version()`` after reading the schema would leave a
        window where a concurrent evolving append advances the table
        between the two reads — this commit would then pass the
        conflict check while carrying a schema derived from the
        pre-advance table, hiding the other writer's column anyway."""
        adds = None
        for _ in range(self.max_commit_retries):
            pinned = self.latest_version()
            cur = self.table_schema(pinned)
            schema_json = self._evolved_schema(df.schema, merge_schema,
                                               cur=cur)
            if adds is None:  # data files are written exactly once
                adds = self._write_data_files(df)
            if cur is not None and schema_json == cur.json():
                # no schema change: nothing to race on — commit blind
                return self._commit("append", adds, [], None)
            try:
                return self._commit("append", adds, [], pinned,
                                    schema_json=schema_json)
            except CommitConflict:
                continue  # table advanced: re-validate against new schema
        raise CommitConflict(
            f"schema-evolving append lost {self.max_commit_retries} races")

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents atomically (readers see the old
        snapshot until the commit lands). The committed schema is
        replaced wholesale — overwrite is the schema-reset op."""
        snap = self._snapshot()
        adds = self._write_data_files(df)
        return self._commit("overwrite", adds, list(snap.files),
                            snap.version, schema_json=df.schema.json())

    def merge(self, updates: DataFrame, *,
              delete_col: str | None = None) -> int:
        """Upsert ``updates`` by ``key_cols`` (last-writer-wins;
        optional boolean ``delete_col`` tombstones), rewriting ONLY the
        data files whose footer key-range intersects the batch — the
        untouched tail of a 100 TB table is carried by reference, never
        read. Pruning checks EVERY key column's min/max interval: for
        a composite key, one provably-disjoint column rules a file
        out, since equality on the full tuple requires overlap on
        each."""
        if not self.key_cols:
            raise ValueError("merge requires key_cols")
        snap = self._snapshot()
        schema = self.table_schema(snap.version)
        if schema is not None:
            batch_cols = set(updates.columns) - (
                {delete_col} if delete_col is not None else set())
            unknown = batch_cols - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(
                    f"merge batch has columns not in the table schema: "
                    f"{sorted(unknown)}; evolve via append(merge_schema="
                    f"True) first")
        # Batch bounds for EVERY key column in one 1-row agg; a file is
        # provably clean if ANY key column's [min,max] is disjoint from
        # the batch's (composite equality needs every column to match,
        # so one disjoint column rules the whole file out) — tighter
        # than leading-column-only pruning for multi-column keys whose
        # later columns carry the selectivity.
        bounds = updates.agg(*[
            f for k in self.key_cols
            for f in (F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}"))
        ]).first()
        empty_batch = bounds[f"lo_{self.key_cols[0]}"] is None

        def overlaps(stats: dict) -> bool:
            for k in self.key_cols:
                s = stats.get(k)
                if s is None or "min" not in s:
                    continue  # no range recorded for this column
                lo, hi = bounds[f"lo_{k}"], bounds[f"hi_{k}"]
                if lo is None:
                    continue
                try:
                    if s["max"] < lo or s["min"] > hi:
                        return False  # provably disjoint on this column
                except TypeError:  # incomparable types: assume overlap
                    continue
            return True

        touched, kept = [], []
        for rel, a in snap.files.items():
            if empty_batch or not overlaps(a.get("stats", {})):
                kept.append(rel)
            else:
                touched.append(rel)

        upserts = updates
        if delete_col is not None:
            upserts = updates.where(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
            updates = updates.drop(delete_col)

        if touched:
            old = self._read_pinned(touched, schema, snap.dvs)
            survivors = old.join(
                F.broadcast(updates.select(*self.key_cols).distinct()),
                self.key_cols, "left_anti")
            # Survivors keep the FULL committed schema; a batch missing
            # evolved columns upserts NULL for them (its own rows only)
            # instead of dropping the column from every rewritten row.
            merged = survivors.unionByName(upserts,
                                           allowMissingColumns=True)
        else:
            merged = upserts
        if schema is not None:
            order = [f.name for f in schema.fields
                     if f.name in merged.columns]
            merged = merged.select(*order)
        adds = self._write_data_files(merged)
        return self._commit("merge", adds, touched, snap.version)

    def delete(self, condition) -> int:
        """Delete rows matching ``condition`` (a Column or SQL string),
        rewriting only the files that actually contain matches. Finding
        those files is a column-pruned scan of just the predicate
        columns with ``input_file_name()`` — the standard two-phase
        recipe: at 100 TB, phase 1 reads a few columns of the table
        (parquet-pruned, filter pushed down) and phase 2 rewrites the
        handful of matching files; clean files are never opened twice
        and never rewritten."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self._snapshot()
        if not snap.files:
            return self._commit("delete", [], [], snap.version)
        schema = self.table_schema(snap.version)
        current = self._read_pinned(sorted(snap.files), schema, snap.dvs)
        from urllib.parse import unquote, urlparse

        # input_file_name() yields URIs; resolve to absolute paths and
        # intersect with the snapshot's file list (metadata-sized)
        hit_paths = {
            unquote(urlparse(r[0]).path)
            for r in current.where(cond)
            .select(F.input_file_name().alias("f")).distinct().collect()
        }
        matched = [
            rel for rel in sorted(snap.files)
            if os.path.abspath(os.path.join(self.path, rel)) in hit_paths
        ]
        if not matched:
            return self._commit("delete", [], [], snap.version)
        # Survivors are rows where the predicate is NOT TRUE — a NULL
        # predicate (e.g. delete('x > 5') on an x-IS-NULL row in a
        # matched file) must survive, matching delete_mor (which only
        # collects TRUE rows). A bare ~cond would drop NULL rows too.
        survivors = self._read_pinned(matched, schema, snap.dvs) \
            .where(~F.coalesce(cond, F.lit(False)))
        adds = self._write_data_files(survivors)
        return self._commit("delete", adds, matched, snap.version)

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024,
                zorder_by: list[str] | None = None) -> int:
        """OPTIMIZE: coalesce files smaller than ``target_file_bytes``
        into well-sized ones (streaming appends leave small files; a
        scan pays per-file open cost). A no-op data change — readers
        pinned to earlier versions are untouched. With ``zorder_by``,
        the rewritten data is Morton-ordered (``sources/layout.py``) so
        later narrow predicates on ANY listed column prune via footer
        stats. Returns the new version (or the current one if fewer
        than two small files exist)."""
        snap = self._snapshot()
        small = [
            rel for rel in sorted(snap.files)
            if os.path.getsize(os.path.join(self.path, rel))
            < target_file_bytes
        ]
        if len(small) < 2:
            return snap.version
        df = self._read_pinned(small, self.table_schema(snap.version),
                               snap.dvs)
        if zorder_by:
            from pandas_rust_algos_spark.sources.layout import zorder_column

            df = (df.withColumn("__z", zorder_column(df, zorder_by))
                  .sortWithinPartitions("__z").drop("__z"))
        n_bytes = sum(os.path.getsize(os.path.join(self.path, r))
                      for r in small)
        df = df.coalesce(max(1, n_bytes // target_file_bytes + 1))
        adds = self._write_data_files(df)
        return self._commit("compact", adds, small, snap.version)

    def delete_mor(self, condition, *,
                   max_delete_rows: int = 1_000_000) -> int:
        """Merge-on-read DELETE: tombstone matching rows in a deletion
        vector instead of rewriting their files (Delta's deletion
        vectors / Iceberg's position deletes). The right tool for
        POINT deletes (GDPR erasure, bad-record tombstones) on a
        100 TB table: the commit is metadata-only — zero data files
        written — and every read/rewrite path applies the vector via a
        broadcast anti-join on (file, row position) from the hidden
        ``_metadata.row_index`` column.

        The position list lives in the commit log and transits the
        driver, so it is capped at ``max_delete_rows`` (raise for
        bigger sweeps, or use :meth:`delete` — copy-on-write — which
        rewrites files and clears their vectors). Trade-off vs
        copy-on-write: O(matches) commit cost now, a small per-read
        anti-join tax until :meth:`compact` or any rewrite
        materializes the vector away."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self._snapshot()
        if not snap.files:
            return self._commit("delete_mor", [], [], snap.version)
        schema = self.table_schema(snap.version)
        df = self._read_pinned(sorted(snap.files), schema, snap.dvs,
                               keep_positions=True)
        # The cap is enforced BEFORE anything driver-sized
        # materializes: collect through limit(cap+1), so a too-broad
        # predicate on a 100 TB table pulls at most cap+1 rows to the
        # driver and refuses — it can never OOM the guard it exists
        # to provide. (An overflow row means ">cap matches"; the true
        # count is irrelevant once the op is refused.)
        hits = (df.where(cond).select("__rel", "__pos")
                .limit(max_delete_rows + 1).collect())
        if len(hits) > max_delete_rows:
            raise ValueError(
                f"delete_mor matched more than max_delete_rows="
                f"{max_delete_rows} rows; use delete() (copy-on-write) "
                f"for bulk deletes, or raise the cap")
        if not hits:
            return self._commit("delete_mor", [], [], snap.version)
        fresh: dict[str, set[int]] = {}
        for r in hits:
            fresh.setdefault(r["__rel"], set()).add(int(r["__pos"]))
        dv = {
            rel: sorted(set(snap.dvs.get(rel, [])) | ps)
            for rel, ps in fresh.items()
        }
        return self._commit("delete_mor", [], [], snap.version, dv=dv)

    def update_mor(self, condition, set_exprs: dict, *,
                   max_update_rows: int = 1_000_000) -> int:
        """Merge-on-read UPDATE: tombstone the old versions of matching
        rows in a deletion vector AND append their updated copies, in
        ONE atomic commit — no existing data file is rewritten (Delta's
        deletion-vector UPDATE path). The right tool for POINT updates
        on a 100 TB table: commit cost is O(matches), not O(files
        containing matches); rewrites/compaction later materialize the
        vector away exactly as for :meth:`delete_mor`.

        ``set_exprs``: column → Column/SQL-string expression evaluated
        against the OLD row (standard UPDATE semantics); values are
        cast to the column's committed type, and assignments to columns
        outside the committed schema are rejected (an UPDATE never
        evolves schema). The position list transits the driver, so the
        op is capped at ``max_update_rows`` — enforced through
        ``limit(cap+1)`` BEFORE anything driver-sized materializes,
        like :meth:`delete_mor`; use :meth:`merge` (copy-on-write) for
        bulk updates."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self._snapshot()
        if not snap.files:
            return self._commit("update_mor", [], [], snap.version)
        schema = self.table_schema(snap.version)
        fields = {f.name: f.dataType for f in schema.fields} \
            if schema is not None else None
        if fields is not None:
            unknown = [c for c in set_exprs if c not in fields]
            if unknown:
                raise ValueError(
                    f"update_mor cannot assign to columns outside the "
                    f"committed schema: {unknown} (UPDATE never evolves "
                    "schema; use append(merge_schema=True) for that)")
        df = self._read_pinned(sorted(snap.files), schema, snap.dvs,
                               keep_positions=True)
        matched = df.where(cond)
        hits = (matched.select("__rel", "__pos")
                .limit(max_update_rows + 1).collect())
        if len(hits) > max_update_rows:
            raise ValueError(
                f"update_mor matched more than max_update_rows="
                f"{max_update_rows} rows; use merge() (copy-on-write) "
                f"for bulk updates, or raise the cap")
        if not hits:
            return self._commit("update_mor", [], [], snap.version)
        # Every SET expression must see only PRE-update values (standard
        # UPDATE semantics, e.g. swap {'a':'b','b':'a'}): one select
        # evaluates all of them against the old row simultaneously —
        # sequential withColumn would let a later expression read an
        # earlier assignment's NEW value.
        def _val(col):
            expr = set_exprs[col]
            val = F.expr(expr) if isinstance(expr, str) else expr
            if fields is not None:
                val = val.cast(fields[col])
            return val.alias(col)

        out_cols = ([f.name for f in schema.fields] if schema is not None
                    else [c for c in matched.columns
                          if c not in ("__rel", "__pos")])
        if fields is None:
            # no committed schema to check against: still refuse SET
            # keys outside the row columns — otherwise the assignment
            # silently vanishes from the select below and the "update"
            # rewrites rows byte-identical
            unknown = [c for c in set_exprs if c not in out_cols]
            if unknown:
                raise ValueError(
                    f"update_mor cannot assign to columns outside the "
                    f"table: {unknown}")
        updated = matched.select(*[
            _val(c) if c in set_exprs else F.col(c) for c in out_cols
        ])
        adds = self._write_data_files(updated)
        fresh: dict[str, set[int]] = {}
        for r in hits:
            fresh.setdefault(r["__rel"], set()).add(int(r["__pos"]))
        dv = {
            rel: sorted(set(snap.dvs.get(rel, [])) | ps)
            for rel, ps in fresh.items()
        }
        return self._commit("update_mor", adds, [], snap.version, dv=dv)

    def restore(self, version: int) -> int:
        """ROLLBACK: make the table's contents (and schema) equal those
        at ``version`` again, as a NEW commit — history is append-only,
        so the bad-write era stays auditable and time travel into it
        keeps working (Delta's ``RESTORE TABLE ... TO VERSION``).

        Data files are carried by reference: the commit re-adds the
        target snapshot's files and removes the current ones — zero
        data movement, metadata-only. Files vacuumed since the target
        version make the restore impossible; that is detected and
        raised loudly BEFORE committing (the retention window is the
        restore window — same contract as Delta)."""
        target = self._snapshot(version)
        cur = self._snapshot()
        missing = [
            rel for rel in target.files
            if not os.path.exists(os.path.join(self.path, rel))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{version}: {len(missing)} data "
                f"file(s) were vacuumed (e.g. {missing[0]!r}); restores "
                f"reach only as far back as vacuum retention")
        adds = [a for rel, a in target.files.items()
                if rel not in cur.files]
        removes = [rel for rel in cur.files if rel not in target.files]
        # deletion vectors roll back too: replacement entries for every
        # target file whose vector differs from the current one (an
        # empty list clears; re-added files get theirs re-attached
        # after the add resets them — replay applies dv AFTER add)
        dv_restore: dict[str, list[int]] = {}
        for rel in target.files:
            tgt = target.dvs.get(rel)
            if rel in cur.files:
                if tgt != cur.dvs.get(rel):
                    dv_restore[rel] = tgt or []
            elif tgt:
                dv_restore[rel] = tgt
        schema = self.table_schema(version)
        cur_schema = self.table_schema(cur.version)
        schema_json = None
        if schema is not None and (
                cur_schema is None or schema.json() != cur_schema.json()):
            schema_json = schema.json()
        return self._commit("restore", adds, removes, cur.version,
                            schema_json=schema_json, dv=dv_restore)

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Change data feed between two versions: the row-level diff of
        the two pinned snapshots keyed by ``key_cols`` — ``status`` ∈
        added/removed/changed with old_*/new_* values per compared
        column (``operators/reconcile.snapshot_diff``). One full-outer
        hash join on the table key, AQE-sized and skew-split — the same
        single-shuffle cost as any fact-fact join; unchanged rows are
        filtered before anything leaves the executors."""
        from pandas_rust_algos_spark.operators.reconcile import snapshot_diff

        if not self.key_cols:
            raise ValueError("changes requires key_cols")
        old = self.read(version=v_from)
        new = self.read(version=v_to)
        compare = [c for c in new.columns if c not in self.key_cols]
        diff = snapshot_diff(old, new, self.key_cols, compare)
        return diff.where(F.col("status") != "unchanged")

    # ------------------------------------------------------------- reads

    def read(self, version: int | None = None,
             as_of_ts_ms: int | None = None) -> DataFrame:
        """Snapshot-isolated read: latest by default, or pinned to an
        exact ``version`` / the last version committed at or before
        ``as_of_ts_ms`` (time travel). The returned plan lists the
        snapshot's files explicitly, so concurrent commits and vacuums
        of *newer* garbage never change what this reader sees."""
        snap = self._snapshot(version, as_of_ts_ms)
        schema = self.table_schema(snap.version)
        if not snap.files:
            first = self.spark.read.parquet(
                os.path.join(self.path, _DATA_DIR)).limit(0)
            return first if schema is None else first.sparkSession \
                .createDataFrame([], schema)
        # explicit (possibly evolved) schema: files written before a
        # column existed scan it as NULL — no mergeSchema footer sweep
        # over every file; deletion vectors (if any) anti-join out here
        return self._read_pinned(sorted(snap.files), schema, snap.dvs)

    def file_count(self, version: int | None = None) -> int:
        return len(self._snapshot(version).files)

    # ---------------------------------------------------------- streaming

    def write_stream(self, stream: DataFrame, *, checkpoint: str,
                     mode: str = "merge", delete_col: str | None = None):
        """Streaming sink: each micro-batch lands as one atomic commit
        (``mode='append'`` for blind event streams, ``'merge'`` for
        keyed upserts). foreachBatch is at-least-once; merge is
        idempotent per batch (same keys → same result) and the commit
        protocol makes replays visible in ``history()`` rather than
        corrupting — the lakehouse answer to
        ``merge.write_stream_upsert``. Returns the query, drained."""
        from pandas_rust_algos_spark.streaming.sinks import drain

        if mode not in ("append", "merge"):
            raise ValueError(f"mode must be append|merge, got {mode!r}")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if mode == "append":
                if self.latest_version() is None:
                    self.create(batch_df)
                else:
                    self.append(batch_df)
            else:
                if self.latest_version() is None:
                    first = batch_df
                    if delete_col is not None:
                        first = batch_df.where(
                            ~F.coalesce(F.col(delete_col), F.lit(False))
                        ).drop(delete_col)
                    self.create(first)
                else:
                    self.merge(batch_df, delete_col=delete_col)

        return drain(stream.writeStream.foreachBatch(sink), checkpoint)

    # ------------------------------------------------------------- vacuum

    def vacuum(self, retain_last: int = 2) -> list[str]:
        """Delete data files referenced by NO retained version (the
        last ``retain_last`` commits survive, so any reader pinned
        within the retention window stays valid — same contract as
        Delta's ``VACUUM ... RETAIN``). Returns deleted relpaths."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        commits, _ = self._list_log()
        keep_versions = commits[-retain_last:]
        live: set[str] = set()
        for v in keep_versions:
            live.update(self._snapshot(v).files)
        deleted = []
        data_root = os.path.join(self.path, _DATA_DIR)
        for dirpath, _dirs, names in os.walk(data_root):
            for name in names:
                rel = os.path.relpath(os.path.join(dirpath, name), self.path)
                if name.endswith(".parquet") and rel not in live:
                    os.unlink(os.path.join(self.path, rel))
                    deleted.append(rel)
        return sorted(deleted)
