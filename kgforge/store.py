"""Table store: the Spark analog of the reference's storage planes.

The reference talks to Neo4j/Kuzu (graph), Chromem/Milvus (vector) and
Bolt/Redis (KV) (SURVEY.md §1.2).  Here all four planes are columnar
tables in one catalog namespace: ``chunks``, ``nodes``, ``edges``,
``embeddings``, ``checkpoint``, ``rejects``.

Production target is Iceberg (``MERGE INTO`` upserts, hidden
partitioning, snapshot commits).  This sandbox ships no Iceberg
runtime jar, so the backend reproduces the three properties that
matter at 10^12-row scale with parquet files alone:

1. **O(delta) upserts, not O(table).**  Every table is laid out in
   ``N_BUCKETS`` hash-bucket directories (``K = pmod(xxhash64(keys),
   N)``).  ``upsert`` reads ONLY the bucket directories the new rows
   hash into (path-level pruning — untouched buckets are never even
   listed), anti-joins only those rows, and writes new generation
   directories for only those buckets.  An incremental batch touching
   k keys costs O(k/N * |table|) I/O instead of O(|table|).
2. **Atomic multi-table commits via a manifest** (Iceberg snapshot
   semantics).  Readers never list table directories; they resolve
   live data directories through ``_manifest/CURRENT`` -> a manifest
   JSON mapping table -> {bucket -> generation dir}.  ``stage_upsert``
   fully materializes new generation dirs (invisible until
   referenced); ``commit`` writes ONE new manifest file and atomically
   ``os.replace``s the CURRENT pointer.  A crash at ANY point leaves
   either the complete old state or the complete new state — there is
   no multi-rename window, and stale/orphaned directories are never
   discoverable (round-2 ADVICE: the old in-place bucket swap could
   leave a readable ``_bucket=K.old-*`` dir inside the table path).
3. **Schema evolution.**  The live schema travels in the manifest
   (like Iceberg metadata): upserts that add columns union-by-name
   with null back-fill; untouched old-generation files are read
   through the evolved schema (missing columns -> null) without a
   footer-merge pass.  A type CHANGE on an existing column raises
   loudly instead of silently corrupting; nullability alone is not a
   change.

Single-writer invariant: concurrent upserts to the same store are not
coordinated (the reference's storage layer has the same contract —
one Insert loop per store; reference upsert contract:
neo.go:193-249 / kuzu.go:203-252).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

BUCKET_COL = "_bucket"
DEFAULT_N_BUCKETS = 32
MANIFEST_DIR = "_manifest"
CURRENT = "CURRENT"


@dataclass
class StagedWrite:
    """A fully-materialized pending write.  Data directories are
    already in their final location but INVISIBLE (no manifest
    references them); ``entry`` is the new manifest entry that
    :meth:`ParquetTableStore.commit` publishes, ``replaced_dirs`` are
    the old generation dirs to garbage-collect after the commit.
    ``base_entry`` snapshots the table's manifest entry as of staging
    — commit() re-validates it (optimistic concurrency, Iceberg
    commit semantics).  Stats feed the O(delta) assertions in tests."""

    name: str
    entry: dict
    replaced_dirs: List[str] = field(default_factory=list)
    staged_dirs: List[str] = field(default_factory=list)
    buckets_touched: int = 0
    n_buckets: int = 0
    base_entry: Optional[dict] = None


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every nested array element, map value and struct
    field made nullable: the type with nullability stripped."""
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType)) for f in dt.fields]
        )
    return dt


class CommitConflictError(RuntimeError):
    """Another writer published this table between stage and commit.
    The staged write was computed against a stale base (its anti-join
    read the old generation dirs), so publishing it would silently
    drop the other writer's rows — retry the whole stage+commit
    against the new state instead (Iceberg optimistic-concurrency
    semantics)."""


class ParquetTableStore:
    """Parquet-backed emulation of an Iceberg namespace (see module
    docstring for the scale contract)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = DEFAULT_N_BUCKETS,
        retain_history: bool = False,
    ):
        """``retain_history=True`` keeps replaced generation dirs on
        disk after commits, enabling snapshot time travel via
        :meth:`read_at` / :meth:`snapshots` (Iceberg snapshot reads);
        :meth:`vacuum` is then the explicit expiration step.  The
        default GCs replaced dirs eagerly."""
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.retain_history = retain_history
        # Staged-but-uncommitted generation dirs (manifest-invisible).
        # vacuum() must never sweep these: a commit() after the sweep
        # would publish a manifest referencing deleted dirs (ADVICE
        # r3: silent row loss).  Tracked per-store-instance, which is
        # exactly the single-writer scope staging lives in.
        self._staged_dirs: set = set()
        os.makedirs(os.path.join(root, MANIFEST_DIR), exist_ok=True)

    # ------------------------------------------------------------------
    # manifest plumbing
    # ------------------------------------------------------------------

    def _mdir(self) -> str:
        return os.path.join(self.root, MANIFEST_DIR)

    def _manifest(self) -> dict:
        cur = os.path.join(self._mdir(), CURRENT)
        if not os.path.exists(cur):
            return {"version": 0, "tables": {}}
        with open(cur) as fh:
            name = fh.read().strip()
        with open(os.path.join(self._mdir(), name)) as fh:
            return json.load(fh)

    def _replace(self, src: str, dst: str) -> None:
        """The single atomicity point — one POSIX rename publishes the
        whole multi-table commit.  Isolated for crash-injection
        tests."""
        os.replace(src, dst)

    def _write_manifest(self, manifest: dict) -> None:
        manifest["version"] = int(manifest.get("version", 0)) + 1
        name = "m-%08d-%s.json" % (manifest["version"], uuid.uuid4().hex[:8])
        path = os.path.join(self._mdir(), name)
        with open(path, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        tmp = os.path.join(
            self._mdir(), CURRENT + ".tmp-" + uuid.uuid4().hex[:8]
        )
        with open(tmp, "w") as fh:
            fh.write(name)
            fh.flush()
            os.fsync(fh.fileno())
        self._replace(tmp, os.path.join(self._mdir(), CURRENT))

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ------------------------------------------------------------------
    # catalog surface
    # ------------------------------------------------------------------

    def exists(self, name: str) -> bool:
        return name in self._manifest()["tables"]

    def _schema_of(self, t: dict) -> Optional[StructType]:
        if t.get("schema"):
            return StructType.fromJson(json.loads(t["schema"]))
        return None

    def _read_entry(self, t: dict, table: str = "?") -> DataFrame:
        schema = self._schema_of(t)
        paths = [os.path.join(self.root, d) for d in t["buckets"].values()]
        # A dir referenced by a manifest that is missing on disk is
        # CORRUPTION (half-applied GC, manual deletion, vacuum
        # misuse), never a normal state: raise loudly instead of
        # silently returning partial data (ADVICE r3 — read_at()
        # already raised for the same condition; read() now matches).
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise ValueError(
                f"table '{table}' manifest references missing data "
                f"dirs {missing[:3]} — store is corrupted (partial GC "
                "or manual deletion); refusing a partial read"
            )
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def read(self, name: str) -> Optional[DataFrame]:
        t = self._manifest()["tables"].get(name)
        if t is None:
            return None
        return self._read_entry(t, name)

    def _bucket_expr(self, keys: Sequence[str]):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.n_buckets)
        ).cast("int")

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    def overwrite(
        self, name: str, df: DataFrame, keys: Sequence[str]
    ) -> None:
        """Atomic full replace, in the hash-bucketed layout so later
        upserts can prune."""
        self.commit([self._stage_full(name, df, list(keys))])

    @staticmethod
    def _live_dirs(t: Optional[dict]) -> List[str]:
        return list(t["buckets"].values()) if t else []

    def _check_evolution(
        self, old: Optional[StructType], new: StructType, name: str
    ) -> None:
        """Adding columns is fine (null back-fill); changing an
        existing column's type is a loud error, never silent.
        Nullability is not part of the type: a merge that unions old
        and new rows loosens it, so the next write would otherwise
        see e.g. ``array<string NOT NULL>`` -> ``array<string>``."""
        if old is None:
            return
        old_types = {f.name: _nullable(f.dataType) for f in old.fields}
        for f in new.fields:
            new_type = _nullable(f.dataType)
            if old_types.get(f.name, new_type) != new_type:
                raise ValueError(
                    f"schema evolution conflict on table '{name}' "
                    f"column '{f.name}': {old_types[f.name]} -> "
                    f"{new_type}"
                )

    def _adopt_buckets(
        self, name: str, tmp: str, gen: str
    ) -> Dict[str, str]:
        """Move ``_bucket=K`` dirs out of a finished Spark write into
        final (but manifest-invisible) generation dirs."""
        tdir = self._path(name)
        os.makedirs(tdir, exist_ok=True)
        buckets: Dict[str, str] = {}
        for entry in os.listdir(tmp):
            if not entry.startswith(BUCKET_COL + "="):
                continue
            b = entry.split("=", 1)[1]
            dname = os.path.join(name, f"b{b}-{gen}")
            os.rename(
                os.path.join(tmp, entry), os.path.join(self.root, dname)
            )
            buckets[b] = dname
        shutil.rmtree(tmp, ignore_errors=True)
        return buckets

    def _stage_full(
        self, name: str, df: DataFrame, keys: List[str],
    ) -> StagedWrite:
        """Stage a complete bucketed table (bulk load / full replace).

        Always routes each bucket to one task (one shuffle on the
        bucket key): one file per bucket, co-located bucket joins
        downstream.  The round-2 shuffle-free bulk path was measured
        ~10x SLOWER at sf0.1 (every producing task opens a parquet
        writer per bucket it holds rows for -> partitions x buckets
        small files; 5.6 s vs 0.6 s for the chunks table) — dynamic-
        partition file fan-out costs more than shuffling the rows.
        At larger scale, raise ``n_buckets`` to keep per-bucket files
        bounded AND writes wide."""
        gen = uuid.uuid4().hex[:8]
        tmp = self._path(name) + ".tmp-" + gen
        new = df.withColumn(BUCKET_COL, self._bucket_expr(keys))
        new = new.repartition(self.n_buckets, F.col(BUCKET_COL))
        new.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
        buckets = self._adopt_buckets(name, tmp, gen)
        self._staged_dirs.update(buckets.values())
        old = self._manifest()["tables"].get(name)
        return StagedWrite(
            name=name,
            entry={
                "n_buckets": self.n_buckets,
                "keys": keys,
                "schema": df.schema.json(),
                "buckets": buckets,
            },
            replaced_dirs=self._live_dirs(old),
            staged_dirs=list(buckets.values()),
            buckets_touched=self.n_buckets,
            n_buckets=self.n_buckets,
            base_entry=old,
        )

    # ------------------------------------------------------------------
    # MERGE INTO emulation
    # ------------------------------------------------------------------

    def stage_upsert(
        self, name: str, df: DataFrame, keys: Sequence[str]
    ) -> StagedWrite:
        """Materialize a keyed MERGE without making it visible.

        Iceberg equivalent::

            MERGE INTO ns.<name> t USING updates s
            ON  <t.k = s.k for k in keys>
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *

        Only the hash buckets containing new keys are read (path-level
        pruning through the manifest) and given new generation dirs.
        All Spark actions run here; :meth:`commit` is one manifest
        write + one atomic pointer rename.
        """
        keys = list(keys)
        t = self._manifest()["tables"].get(name)

        if t is None:
            # Bulk load: one bucket-keyed shuffle (see _stage_full for
            # the measurement that retired the round-2 shuffle-free
            # path).
            return self._stage_full(name, df, keys)

        # Pruned merge: read ONLY the buckets the new rows hash into.
        old_schema = self._schema_of(t)
        self._check_evolution(old_schema, df.schema, name)
        gen = uuid.uuid4().hex[:8]
        new = df.withColumn(BUCKET_COL, self._bucket_expr(keys)).persist()
        touched = sorted(
            r[0] for r in new.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            new.unpersist()
            return StagedWrite(
                name=name, entry=t, buckets_touched=0,
                n_buckets=self.n_buckets, base_entry=t,
            )
        old_buckets: Dict[str, str] = dict(t["buckets"])
        paths = [
            os.path.join(self.root, old_buckets[str(b)])
            for b in touched
            if str(b) in old_buckets
        ]
        if paths:
            existing = self.spark.read.schema(old_schema).parquet(*paths)
        else:
            existing = self.spark.createDataFrame([], old_schema)
        keep = existing.join(
            new.select(*keys).dropDuplicates(keys), keys, "left_anti"
        ).withColumn(BUCKET_COL, self._bucket_expr(keys))
        merged = keep.unionByName(new, allowMissingColumns=True)
        tmp = self._path(name) + ".tmp-" + gen
        (
            merged.repartition(
                min(len(touched), self.n_buckets), F.col(BUCKET_COL)
            )
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(tmp)
        )
        new.unpersist()
        written = self._adopt_buckets(name, tmp, gen)
        self._staged_dirs.update(written.values())
        buckets = dict(old_buckets)
        replaced: List[str] = []
        for b in touched:
            key = str(b)
            if key in written:
                if key in buckets:
                    replaced.append(buckets[key])
                buckets[key] = written[key]
            elif key in buckets:
                # merged bucket came out empty (cannot normally happen
                # — new rows always land in their bucket — but never
                # leave stale rows live)
                replaced.append(buckets.pop(key))
        schema_json = merged.drop(BUCKET_COL).schema.json()
        return StagedWrite(
            name=name,
            entry={
                "n_buckets": self.n_buckets,
                "keys": keys,
                "schema": schema_json,
                "buckets": buckets,
            },
            replaced_dirs=replaced,
            staged_dirs=list(written.values()),
            buckets_touched=len(touched),
            n_buckets=self.n_buckets,
            base_entry=t,
        )

    def commit(self, staged: Sequence[StagedWrite]) -> None:
        """Publish staged writes: build the next manifest, write it,
        atomically swap the CURRENT pointer — ALL tables become
        visible in one rename (no Spark jobs, no per-table window).
        Old generation dirs are garbage-collected only AFTER the
        pointer swap; a GC failure leaves orphans that no reader can
        ever discover (vacuum() reclaims them)."""
        manifest = self._manifest()
        # Two StagedWrites for one table in a single commit would have
        # the later silently overwrite the earlier's merge (both were
        # computed against the same base): reject outright.
        names = [s.name for s in staged]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"multiple staged writes for table(s) {dupes} in one "
                "commit; merge them into one stage_upsert instead"
            )
        # Optimistic concurrency (Iceberg commit semantics): each
        # staged write re-validates that the table entry it was
        # computed against is STILL the published one.  A conflicting
        # commit in the window would otherwise be silently overwritten
        # with a merge that never saw its rows.  The conflicted
        # batch's staged dirs are RELEASED from the vacuum-exclusion
        # set before raising: the whole batch is dead (the caller
        # must re-stage), so its invisible generation dirs are
        # orphans for vacuum() to reclaim.
        conflicted = [
            s for s in staged
            if manifest["tables"].get(s.name) != s.base_entry
        ]
        if conflicted:
            for s in staged:
                self._staged_dirs.difference_update(s.staged_dirs)
            raise CommitConflictError(
                f"table '{conflicted[0].name}' was modified by "
                "another commit between stage and commit; re-stage "
                "against the current state (single-writer invariant "
                "violated)"
            )
        replaced: List[str] = []
        for s in staged:
            manifest["tables"][s.name] = s.entry
            replaced.extend(s.replaced_dirs)
            self._staged_dirs.difference_update(s.staged_dirs)
        self._write_manifest(manifest)
        if not self.retain_history:
            for d in replaced:
                shutil.rmtree(
                    os.path.join(self.root, d), ignore_errors=True
                )

    def upsert(
        self, name: str, df: DataFrame, keys: Sequence[str]
    ) -> StagedWrite:
        """MERGE INTO emulation: new rows win on key collision.
        Returns the staged-write record (bucket-touch stats)."""
        staged = self.stage_upsert(name, df, keys)
        self.commit([staged])
        return staged

    def compact(
        self, name: str, target_files_per_bucket: int = 1
    ) -> dict:
        """Small-file maintenance (Iceberg ``rewrite_data_files``):
        rewrite every bucket holding more parquet files than the
        target into one file, as a normal snapshot commit — readers
        never see a half-compacted table.  Bulk loads write one file
        per producing task per bucket (no shuffle by design), so a
        wide bulk load is the typical candidate.  Returns
        {bucket: files_before} for the rewritten buckets."""
        t = self._manifest()["tables"].get(name)
        if not t:
            return {}
        schema = self._schema_of(t)
        gen = uuid.uuid4().hex[:8]
        tdir = self._path(name)
        buckets = dict(t["buckets"])
        rewritten: dict = {}
        replaced: List[str] = []
        staged_dirs: List[str] = []
        for b, dname in t["buckets"].items():
            full = os.path.join(self.root, dname)
            if not os.path.isdir(full):
                continue
            files = [
                f for f in os.listdir(full) if f.endswith(".parquet")
            ]
            if len(files) <= target_files_per_bucket:
                continue
            new_rel = os.path.join(name, f"b{b}-{gen}")
            (
                self.spark.read.schema(schema).parquet(full)
                .coalesce(target_files_per_bucket)
                .write.mode("overwrite")
                .parquet(os.path.join(self.root, new_rel))
            )
            rewritten[int(b)] = len(files)
            replaced.append(dname)
            staged_dirs.append(new_rel)
            buckets[b] = new_rel
        if not rewritten:
            return {}
        entry = dict(t)
        entry["buckets"] = buckets
        self.commit([
            StagedWrite(
                name=name, entry=entry, replaced_dirs=replaced,
                staged_dirs=staged_dirs,
                buckets_touched=len(rewritten),
                n_buckets=self.n_buckets,
                base_entry=t,
            )
        ])
        return rewritten

    # ------------------------------------------------------------------
    # snapshot time travel (retain_history=True stores)
    # ------------------------------------------------------------------

    def snapshots(self) -> List[int]:
        """Committed snapshot versions, oldest first (one per manifest
        file still on disk)."""
        return sorted(
            int(f.split("-")[1])
            for f in os.listdir(self._mdir())
            if f.startswith("m-")
        )

    def _manifest_at(self, version: int) -> dict:
        for f in os.listdir(self._mdir()):
            if f.startswith("m-%08d-" % version):
                with open(os.path.join(self._mdir(), f)) as fh:
                    return json.load(fh)
        raise ValueError(f"no snapshot with version {version}")

    def read_at(self, name: str, version: int) -> Optional[DataFrame]:
        """Read ``name`` as of snapshot ``version`` (Iceberg
        ``VERSION AS OF``).  Requires ``retain_history=True`` (or a
        not-yet-vacuumed store): generation dirs referenced only by
        old manifests are otherwise GCed at commit; vacuum() is the
        snapshot-expiration step."""
        t = self._manifest_at(version)["tables"].get(name)
        if t is None:
            return None
        missing = [
            d for d in self._live_dirs(t)
            if not os.path.isdir(os.path.join(self.root, d))
        ]
        if missing:
            raise ValueError(
                f"snapshot {version} of '{name}' is expired: "
                f"missing {missing[:3]} (construct the store with "
                "retain_history=True to keep history)"
            )
        return self._read_entry(t, name)

    def drop(self, name: str) -> None:
        manifest = self._manifest()
        if name in manifest["tables"]:
            del manifest["tables"][name]
            self._write_manifest(manifest)
        p = self._path(name)
        if os.path.exists(p):
            shutil.rmtree(p)

    def vacuum(self, keep_manifests: int = 3) -> List[str]:
        """Delete data directories not referenced by the CURRENT
        manifest (crash leftovers / failed GC) and old manifest files.

        Safe any time under the single-writer invariant FOR THIS
        STORE INSTANCE: generation dirs staged by this instance but
        not yet committed are tracked in ``_staged_dirs`` and excluded
        from the sweep, so vacuum between ``stage_upsert`` and
        ``commit`` cannot delete data a later commit will publish
        (ADVICE r3).  A *different* process vacuuming while this one
        stages is outside the single-writer contract."""
        manifest = self._manifest()
        live = set(self._staged_dirs)
        for t in manifest["tables"].values():
            live.update(self._live_dirs(t))
        removed = []
        for tname in list(manifest["tables"]) + [
            d for d in os.listdir(self.root)
            if d != MANIFEST_DIR and os.path.isdir(self._path(d))
        ]:
            tdir = self._path(tname)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                rel = os.path.join(tname, entry)
                full = os.path.join(tdir, entry)
                if os.path.isdir(full) and rel not in live:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
        # stale .tmp-* write dirs at root level
        for entry in os.listdir(self.root):
            if ".tmp-" in entry:
                shutil.rmtree(self._path(entry), ignore_errors=True)
                removed.append(entry)
        # prune manifest history
        mfiles = sorted(
            f for f in os.listdir(self._mdir()) if f.startswith("m-")
        )
        cur = os.path.join(self._mdir(), CURRENT)
        current_name = ""
        if os.path.exists(cur):
            with open(cur) as fh:
                current_name = fh.read().strip()
        for f in mfiles[:-keep_manifests]:
            if f != current_name:
                os.unlink(os.path.join(self._mdir(), f))
        return removed

    # Observability helper for tests/benchmarks: parquet files per
    # bucket, resolved through the manifest.
    def bucket_files(self, name: str) -> dict:
        t = self._manifest()["tables"].get(name)
        out: dict = {}
        if not t:
            return out
        for b, dname in t["buckets"].items():
            full = os.path.join(self.root, dname)
            files = [
                f for f in os.listdir(full) if f.endswith(".parquet")
            ] if os.path.isdir(full) else []
            # generation dir name participates so an untouched bucket
            # compares equal and a rewritten one never does
            out[int(b)] = [os.path.join(os.path.basename(dname), f)
                           for f in sorted(files)]
        return out
