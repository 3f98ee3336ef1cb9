"""Snapshot-parquet table layer — Iceberg-style semantics without the
Iceberg runtime jar (unavailable offline; SURVEY.md §4).

A ``SnapshotTable`` is a directory:

    <root>/
      data/<snapshot-uuid>/part-*.parquet     (immutable data dirs)
      snapshots/v{N:06d}.json                 (manifest per snapshot)
      CURRENT                                 (pointer file)

Each manifest records: version, parent version, the list of data dirs
that make up the snapshot (append = parent dirs + new dir; overwrite
= new dir only; either way a commit writes exactly one dir, the last),
the schema of the rows it wrote (reads pass it to Spark, so building
a read starts no schema-inference job), for an append on top of a
compacted base that base's version, and arbitrary **lineage** (wave id,
frontier offset, seen-shard versions, fetch counters — the north
rule's per-partition lineage). Commits are atomic: data is written
first, then the manifest and the CURRENT pointer land via
write-temp + ``os.replace`` (POSIX-atomic), so a crash between steps
leaves the previous snapshot intact (SURVEY.md §7 risk 5). Reads are
by snapshot id (time travel) or CURRENT.

A real Iceberg catalog drops in behind the same four calls
(``commit`` / ``read`` / ``history`` / ``current_version``) via
``spark.sql.catalog.*`` when jars are available.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # --- internals ---------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{version:06d}.json")

    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _write_atomic(self, path: str, payload: str) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, path)

    def _all_versions(self) -> list[int]:
        snaps = os.path.join(self.root, "snapshots")
        out = []
        for name in os.listdir(snaps):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    def _writers(self, m: dict, stop: int | None = None) -> dict[str, dict]:
        """data dir -> the manifest that wrote it, over ``m``'s
        ancestry down to (not including) version ``stop``. The walk
        ends at an overwrite (older dirs are not read through ``m``)
        or where an expired ancestor's manifest is gone."""
        out: dict[str, dict] = {}
        while m is not None and m["version"] != stop:
            out[m["data_dirs"][-1]] = m
            if m["mode"] == "overwrite":
                break
            m = self._manifest_or_none(m.get("parent"))
        return out

    def _read_dirs(
        self, spark: SparkSession, dirs: list[str], writers: dict[str, dict]
    ) -> DataFrame:
        """Parquet read of ``dirs``. When every dir's writer (see
        ``_writers``) recorded the same schema, the read passes it and
        starts no Spark job; otherwise (an expired writer, a manifest
        written before commits recorded a schema, dirs written with
        different schemas) Spark infers it from the files, one job."""
        schemas = [writers.get(d, {}).get("schema") for d in dirs]
        reader = spark.read
        if schemas[0] is not None and all(x == schemas[0] for x in schemas):
            reader = reader.schema(StructType.fromJson(schemas[0]))
        return reader.parquet(*[os.path.join(self.root, d) for d in dirs])

    def _next_version(self) -> int:
        """Next id = 1 + max(every manifest on disk, high-water mark).
        The HWM file survives orphan purges, so an id is never reused
        even after rollback deletes the orphan's manifest."""
        vs = self._all_versions()
        hwm = -1
        try:
            with open(os.path.join(self.root, "VERSION_HWM")) as fh:
                hwm = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        return max(vs[-1] if vs else -1, hwm) + 1

    # --- API ----------------------------------------------------------
    def current_version(self) -> int | None:
        try:
            with open(self._current_path()) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, version: int | None = None) -> dict | None:
        if version is None:
            version = self.current_version()
        if version is None:
            return None
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _manifest_or_none(self, version: int | None) -> dict | None:
        if version is None:
            return None
        try:
            return self.manifest(version)
        except FileNotFoundError:
            return None  # expired ancestor: the walk stops here

    def history(self) -> list[dict]:
        out = []
        m = self._manifest_or_none(self.current_version())
        while m is not None:
            out.append(m)
            m = self._manifest_or_none(m.get("parent"))
        return out

    def _bucket_table_name(self, version: int) -> str:
        import hashlib

        h = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:10]
        return f"swsnap_{h}_v{version}"

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        lineage: dict | None = None,
        count_rows: bool = False,
        bucket: dict | None = None,
    ) -> int:
        """Write df as a new snapshot; returns the new version id.

        ``count_rows=True`` rides an observe() on the write job (no
        extra action) and records ``n_rows`` in the lineage — the
        flow-accounting trick from swspark.fetch applied to commits.

        ``bucket`` = {"by": [cols], "n": int, "sort": [cols],
        "partition": [cols]} lays the snapshot out hash-bucketed (and
        optionally dir-partitioned), Iceberg's bucket transform: a
        later equi-join on the bucket columns reads this side with NO
        shuffle (storage-partitioned join), and a filter on a
        partition column prunes to its directories. Requires
        mode="overwrite" (a bucketed layout is a whole-snapshot
        property). The catalog entry is re-creatable from the manifest
        on any later session (``read_bucketed``)."""
        assert mode in ("append", "overwrite")
        if bucket is not None:
            assert mode == "overwrite", "bucketed commits are full rewrites"
        obs = None
        if count_rows:
            obs = Observation(f"commit-{uuid.uuid4().hex[:8]}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        data_dir = os.path.join("data", uuid.uuid4().hex)
        abs_dir = os.path.join(self.root, data_dir)
        version = self._next_version()  # single-writer: safe to pre-allocate
        bucket_meta = None
        if bucket is not None:
            name = self._bucket_table_name(version)
            part_cols = list(bucket.get("partition") or [])
            # saveAsTable orders columns (data..., partition...); keep
            # the manifest DDL in that exact order for re-registration
            ddl_cols = [f for f in df.schema.fields if f.name not in part_cols] + [
                f for f in df.schema.fields if f.name in part_cols
            ]
            w = df.write.mode("overwrite").format("parquet").option("path", abs_dir)
            if part_cols:
                w = w.partitionBy(*part_cols)
            w = w.bucketBy(bucket["n"], *bucket["by"])
            if bucket.get("sort"):
                w = w.sortBy(*bucket["sort"])
            spark = df.sparkSession
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            w.saveAsTable(name)
            bucket_meta = {
                "table": name,
                "n": bucket["n"],
                "by": list(bucket["by"]),
                "sort": list(bucket.get("sort") or []),
                "partition": part_cols,
                "schema_ddl": ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in ddl_cols
                ),
            }
        else:
            df.write.mode("overwrite").parquet(abs_dir)
        lineage = dict(lineage or {})
        if obs is not None:
            lineage["n_rows"] = obs.get["n_rows"]

        parent = self.current_version()
        parent_m = self.manifest(parent) if parent is not None else None
        base = None
        if mode == "append" and parent_m is not None:
            dirs = parent_m["data_dirs"] + [data_dir]
            base = parent if "bucket" in parent_m else parent_m.get("base")
        else:
            dirs = [data_dir]
        # version allocated past every manifest ever written (not
        # parent+1): after a rollback the next commit must NOT reuse
        # an orphan's id, or lineage values recorded against the old
        # id would silently resolve to different data
        manifest = {
            "version": version,
            "parent": parent,
            "mode": mode,
            "data_dirs": dirs,
            "committed_at": time.time(),
            "schema": df.schema.jsonValue(),
            "lineage": lineage,
        }
        if bucket_meta is not None:
            manifest["bucket"] = bucket_meta
        if base is not None:
            manifest["base"] = base
        # manifest first, pointer last — a crash in between leaves
        # CURRENT at the parent and the orphan manifest is harmless
        self._write_atomic(os.path.join(self.root, "VERSION_HWM"), str(version))
        self._write_atomic(self._manifest_path(version), json.dumps(manifest))
        self._write_atomic(self._current_path(), str(version))
        return version

    def set_current(self, version: int | None) -> None:
        """Reset the CURRENT pointer (crash reconciliation). Snapshots
        are immutable, so moving the pointer to an ancestor is safe;
        ``None`` returns the table to the never-committed state."""
        if version is None:
            try:
                os.remove(self._current_path())
            except FileNotFoundError:
                pass
            return
        if not os.path.exists(self._manifest_path(version)):
            raise FileNotFoundError(f"no manifest v{version} in {self.root}")
        self._write_atomic(self._current_path(), str(version))

    def rollback_to_wave_before(self, next_wave: int, key: str = "wave") -> int:
        """Roll CURRENT back to the newest snapshot whose lineage
        ``key`` is < ``next_wave`` (or has no such key). Returns the
        number of snapshots discarded. Used on resume: a crash between
        a wave's table commits and the frontier pointer commit leaves
        orphan wave-N snapshots that the replayed wave would duplicate
        (ancestry walk; snapshots are immutable so this is safe).

        Orphaned snapshots are unreachable by design, so their
        manifests AND any data dirs not referenced by the retained
        chain are deleted here — otherwise every crash-resume leaks
        the torn wave's parquet and, worse, a reused version id would
        make old lineage references resolve to different data (ids
        are additionally never reused: see ``_next_version``)."""
        dropped: list[int] = []
        v = self.current_version()
        while v is not None:
            m = self._manifest_or_none(v)
            if m is None or m.get("lineage", {}).get(key, -1) < next_wave:
                break
            dropped.append(v)
            v = m.get("parent")
        if dropped:
            self.set_current(v)
            self._purge_orphans(dropped)
        return len(dropped)

    def _purge_orphans(self, versions: list[int]) -> None:
        """Delete the manifests of ``versions``, any data dirs only
        they reference and the catalog tables of the bucketed ones.
        Retained = union of data_dirs over every OTHER manifest still
        on disk (covers the current ancestry and any sibling chains)."""
        import shutil

        drop = set(versions)
        retained: set[str] = set()
        for u in self._all_versions():
            if u not in drop:
                retained.update(self.manifest(u)["data_dirs"])
        purged = [self.manifest(u) for u in versions]
        doomed = {d for m in purged for d in m["data_dirs"]}
        # the catalog is the session's (none active: nothing to drop);
        # the tables are external, so DROP keeps their files
        spark = SparkSession.getActiveSession()
        for m in purged:
            if "bucket" in m and spark is not None:
                spark.sql(f"DROP TABLE IF EXISTS {m['bucket']['table']}")
        for d in doomed - retained:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        for u in versions:
            try:
                os.remove(self._manifest_path(u))
            except FileNotFoundError:
                pass

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The snapshot as one DataFrame: the union of read_split's
        parts (a compacted base may be dir-partitioned, so its dirs
        cannot be globbed together with flat delta dirs)."""
        df, *deltas = self.read_split(spark, version)
        for d in deltas:
            extra = set(d.columns) - set(df.columns)
            if extra:
                # op-log deltas (frontier: op/delta_wave) are NOT
                # plain appended rows — a naive union would surface
                # del markers as data. Fail loudly instead of
                # AnalysisException-ing deep inside unionByName.
                raise ValueError(
                    f"{self.root}: delta commits carry op-log columns "
                    f"{sorted(extra)}; read()/compact() cannot fold "
                    "an op log — reconstruct via "
                    "driver._reconstruct_frontier / fold_frontier_ops"
                )
            df = df.unionByName(d)
        return df

    def read_bucketed(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read a bucketed snapshot THROUGH the catalog so Spark knows
        its output partitioning: an equi-join on the bucket columns
        then shuffles only the other side (this is the layout
        bench.py's seen anti-join measures). The catalog entry is
        re-created from the manifest if this session never saw it
        (e.g. resume in a fresh SparkSession)."""
        m = self.manifest(version)
        if m is None or "bucket" not in m:
            raise ValueError(f"snapshot in {self.root} is not bucketed")
        b = m["bucket"]
        name = b["table"]
        if not spark.catalog.tableExists(name):
            abs_dir = os.path.join(self.root, m["data_dirs"][0])
            parts = (
                f" PARTITIONED BY ({', '.join(b['partition'])})"
                if b["partition"]
                else ""
            )
            sort = (
                f" SORTED BY ({', '.join(b['sort'])})" if b["sort"] else ""
            )
            spark.sql(
                f"CREATE TABLE {name} ({b['schema_ddl']}) USING PARQUET"
                f"{parts} CLUSTERED BY ({', '.join(b['by'])}){sort} "
                f"INTO {b['n']} BUCKETS LOCATION '{abs_dir}'"
            )
            if b["partition"]:
                spark.sql(f"MSCK REPAIR TABLE {name}")
        return spark.table(name)

    def base_version(self, version: int | None = None) -> int | None:
        """Newest ancestor (inclusive) that is a bucketed overwrite —
        the compaction 'base' a split read anchors on."""
        v = version if version is not None else self.current_version()
        while v is not None:
            m = self._manifest_or_none(v)
            if m is None:
                return None
            if "bucket" in m:
                return v
            v = m.get("parent")
        return None

    def read_split(
        self, spark: SparkSession, version: int | None = None
    ) -> list[DataFrame]:
        """The scale read path: [bucketed base, delta-dirs...] as
        SEPARATE DataFrames so callers can join each with the right
        strategy — shuffle-free sort-merge against the base, broadcast
        against the (wave-sized) deltas. One part, the snapshot's own
        dirs, when no compaction has happened yet."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        bv = self.base_version(m["version"])
        if bv is None:
            if m.get("base") is not None:
                # the base's dirs may still be on disk (later snapshots
                # name them), but without its manifest they would be
                # globbed flat with the deltas, op-log rows and all
                raise FileNotFoundError(
                    f"{self.root}: snapshot v{m['version']} rests on the "
                    f"compacted base v{m['base']}, which has been expired"
                )
            return [self._read_dirs(spark, m["data_dirs"], self._writers(m))]
        base_dirs = set(self.manifest(bv)["data_dirs"])
        delta_dirs = [d for d in m["data_dirs"] if d not in base_dirs]
        out = [self.read_bucketed(spark, bv)]
        if delta_dirs:
            out.append(
                self._read_dirs(spark, delta_dirs, self._writers(m, stop=bv))
            )
        return out

    def read_wave_range(
        self, spark: SparkSession, w0: int, w1: int, key: str = "wave"
    ) -> DataFrame | None:
        """Read ONLY the rows committed for waves in [w0, w1) — the
        error-backoff window and, with w1 = w0 + 1, the recrawl-expiry
        read of one wave. One manifest-chain walk collects each
        in-range append commit's own data dir; waves folded into a
        compacted base come from the base with a partition-pruned
        filter. The walk stops at the first overwrite: older ancestry
        is dead data. At 10^4 waves this touches the window's dirs
        only, never a whole-table glob. Returns None when nothing
        matches."""
        dirs: list[str] = []
        writers: dict[str, dict] = {}
        base: DataFrame | None = None
        v = self.current_version()
        while v is not None:
            m = self._manifest_or_none(v)
            if m is None:
                break
            w = m.get("lineage", {}).get(key)
            if m["mode"] == "append" and w is not None and w0 <= w < w1:
                own = m["data_dirs"][-1]  # the one dir this commit wrote
                dirs.append(own)
                writers[own] = m
            if "bucket" in m:
                covered = m.get("lineage", {}).get("compacted_through")
                if covered is not None and w0 <= covered:
                    base = self.read_bucketed(spark, m["version"]).where(
                        (F.col(key) >= w0) & (F.col(key) < w1)
                    )
                break
            if m["mode"] == "overwrite":
                # pre-overwrite ancestry is dead data. An overwrite's
                # OWN rows are full-state, not a wave delta, so a
                # wave-window read cannot include them — refuse loudly
                # if one ever lands inside the window instead of
                # silently excluding it (ADVICE r4).
                if w is not None and w0 <= w < w1:
                    raise ValueError(
                        f"read_wave_range([{w0},{w1})) hit an "
                        f"overwrite commit with in-range lineage "
                        f"{key}={w}; overwrite rows are not "
                        "wave-scoped — use read() or commit the data "
                        "as an append delta"
                    )
                break
            v = m.get("parent")
        parts: list[DataFrame] = []
        if dirs:
            parts.append(self._read_dirs(spark, dirs, writers))
        if base is not None:
            parts.append(base.select(parts[0].columns) if parts else base)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def compact(
        self,
        spark: SparkSession,
        bucket: dict,
        lineage: dict | None = None,
    ) -> int:
        """Fold the accumulated snapshot (base + deltas) into ONE
        bucketed overwrite — Iceberg rewrite_data_files. Bounded-cost
        maintenance run every K waves so the delta list never grows
        unboundedly and the big joins stay shuffle-free."""
        return self.commit(
            self.read(spark), mode="overwrite", lineage=lineage, bucket=bucket
        )

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Iceberg expire_snapshots: drop ancestry older than the
        newest ``keep_last`` snapshots, deleting manifests and any
        data dirs no retained snapshot references (a compaction
        supersedes every pre-compaction dir, so without expiry each
        compaction would leave a full dead copy on disk). Returns the
        number of snapshots expired. Time travel stays available for
        the retained window."""
        chain = [m["version"] for m in self.history()]
        doomed = chain[keep_last:]
        if doomed:
            self._purge_orphans(doomed)
            # retained manifests still name the expired parents; the
            # history walk stops when a parent manifest is missing
        return len(doomed)

    def exists(self) -> bool:
        return self.current_version() is not None
