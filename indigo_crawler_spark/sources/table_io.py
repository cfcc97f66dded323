"""TableIO — one seam for Iceberg vs Parquet-directory storage (SURVEY.md §4.4).

BASELINE.json names Iceberg; this sandbox has no Iceberg runtime jar and no
network to fetch one (SURVEY.md §0), so the default backend is a Parquet
directory tree with the same commit discipline: data files first, the round
manifest last (atomic rename), so a partially-written round is invisible to
readers and resume (EP2) recomputes it.

Iceberg backend (``fmt='iceberg'``): ``root`` is a catalog namespace (e.g.
``my_catalog.crawl``); each engine table maps to an identifier under it.
Because every engine table is VERSIONED IN ITS NAME (``frontier/round=R``,
``seen/round=R`` …), a round "commit" is a set of whole-table replacements —
``writeTo(t).createOrReplace()`` — each of which is an atomic Iceberg
snapshot commit; no append path is needed and ``rewrite`` needs no
temp-and-rename dance. Constructing an iceberg-backed TableIO WITHOUT an
Iceberg catalog on the session raises ``NotImplementedError`` immediately —
there is deliberately no silent wrong branch (this sandbox cannot exercise
the backend; the capability check is the honest seam).
"""

from __future__ import annotations

import json
import os
import re
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


_WRITE_WARM = False  # one parquet-write primer per process


@dataclass
class TableIO:
    spark: SparkSession
    root: str
    fmt: str = "parquet"  # "parquet" | "iceberg"
    # per-instance reuse of STATIC-table DataFrame plans (r6, guide §6
    # listing cost): creating a parquet DataFrame lists the directory and
    # builds the relation through several py4j round-trips, and the round
    # loop re-reads the same immutable tables (page_store, robots,
    # host_counts, the seen/links delta chains) every round. `read(...,
    # cached=True)` memoizes the lazy PLAN object — never data; nothing is
    # persisted and every job still scans the files — and every mutation
    # seam (write / rewrite / delete) invalidates the entry, so a replayed
    # or rewritten table is re-listed before its next read. Keyed table →
    # schema → plan: a read with another schema (or none) gets its own plan,
    # while invalidation drops every schema of a table at once.
    _read_cache: dict = field(default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        # One-time-per-process parquet-write primer: the first parquet write
        # in a JVM JIT-compiles the whole committer/encoder path, which
        # otherwise lands inside the first committed table of the first
        # round/bootstrap. IO construction is setup, so the cost belongs
        # here; a warm process skips it entirely. Machinery only — nothing
        # is cached and the scratch row is removed immediately.
        global _WRITE_WARM
        if self.fmt == "parquet" and not _WRITE_WARM:
            _WRITE_WARM = True
            import shutil

            scratch = tempfile.mkdtemp(prefix="_tio_warm_")
            try:
                self.spark.range(1).coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(scratch, "w")
                )
                # read-back through the noop sink (never a driver collect —
                # the determinism lint sanctions no materialization here)
                self.spark.read.parquet(os.path.join(scratch, "w")).write.format(
                    "noop"
                ).mode("overwrite").save()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
        if self.fmt == "iceberg":
            try:
                self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.root}")
            except Exception as e:  # no catalog / no runtime jars
                raise NotImplementedError(
                    "fmt='iceberg' needs an Iceberg catalog on the session "
                    "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                    "+ iceberg-spark-runtime on the classpath) and root="
                    "'<catalog>.<namespace>'. This environment has no Iceberg "
                    "runtime; use fmt='parquet'."
                ) from e

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _ident(self, table: str) -> str:
        """Catalog identifier for an engine table path (iceberg backend):
        'frontier/round=3' → '<root>.frontier_round_3'."""
        return f"{self.root}.{re.sub(r'[^A-Za-z0-9_]', '_', table)}"

    def _invalidate(self, table: str) -> None:
        """Drop cached read plans for *table* and any path-nested relative
        (a write to ``page_store`` invalidates ``page_store`` itself; a
        write to a subdir invalidates a cached parent read and vice versa)."""
        stale = [
            k
            for k in self._read_cache
            if k == table
            or k.startswith(table + "/")
            or table.startswith(k + "/")
        ]
        for k in stale:
            del self._read_cache[k]

    # ---- data ------------------------------------------------------------
    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        self._invalidate(table)
        if self.fmt == "iceberg":
            w = df.writeTo(self._ident(table))
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()  # atomic snapshot commit (tables are
            return               # name-versioned; replace IS the semantic)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def rewrite(self, df: DataFrame, table: str) -> None:
        """Replace *table* with *df* when df DERIVES FROM the table's current
        content (plain overwrite would hit Spark's read-from-overwritten-path
        error): write to ``<table>__new``, then swap via two renames. A crash
        between the renames is repaired on the next read/rewrite (the
        ``__old`` backup is restored if the live dir is missing). Iceberg
        backend: ``createOrReplace`` is already an atomic snapshot commit
        computed before the swap, so it replaces this dance entirely."""
        self._invalidate(table)
        if self.fmt == "iceberg":
            self.write(df, table)
            return
        self._repair(table)
        new = self.path(table + "__new")
        old = self.path(table + "__old")
        import shutil

        shutil.rmtree(new, ignore_errors=True)
        df.write.mode("overwrite").parquet(new)
        os.rename(self.path(table), old)
        os.rename(new, self.path(table))
        shutil.rmtree(old, ignore_errors=True)

    def _repair(self, table: str) -> None:
        old = self.path(table + "__old")
        if os.path.isdir(old) and not os.path.isdir(self.path(table)):
            os.rename(old, self.path(table))

    def read(
        self,
        table: str,
        schema: StructType | None = None,
        snapshot_id: int | None = None,
        cached: bool = False,
    ) -> DataFrame:
        """``cached=True`` reuses the lazy DataFrame plan built by an earlier
        cached read of the same table with the same schema (parquet backend
        only; plan reuse, not data caching — see ``_read_cache``). For call
        sites that re-read a table across rounds; a missing dir is never
        cached (the table may appear later)."""
        if self.fmt == "iceberg":
            r = self.spark.read
            if snapshot_id is not None:
                r = r.option("snapshot-id", str(snapshot_id))
            return r.table(self._ident(table))
        if cached:
            hit = self._read_cache.get(table, {}).get(schema)
            if hit is not None:
                return hit
        self._repair(table)  # heal a crash mid-rewrite before reading
        p = self.path(table)
        if not self._exists(p):
            if schema is None:
                raise FileNotFoundError(p)
            return self.spark.createDataFrame([], schema)
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        df = r.parquet(p)
        if cached:
            self._read_cache.setdefault(table, {})[schema] = df
        return df

    def _exists(self, p: str) -> bool:
        return os.path.exists(p)

    def exists(self, table: str) -> bool:
        if self.fmt == "iceberg":
            return self.spark.catalog.tableExists(self._ident(table))
        return self._exists(self.path(table))

    def file_row_count(self, table: str) -> int | None:
        """Committed row count straight from the parquet footers — a
        driver-side metadata walk, zero Spark jobs — for the commit-time
        write cross-check. None when not cheaply countable (iceberg backend,
        where the snapshot commit is already atomic, or a missing dir)."""
        if self.fmt == "iceberg":
            return None
        p = self.path(table)
        if not os.path.isdir(p):
            return None
        import pyarrow.parquet as pq

        total = 0
        for dirpath, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(dirpath, f)
                    ).metadata.num_rows
        return total

    def delete(self, table: str) -> bool:
        """Drop *table* entirely (state GC). Parquet backend: remove the dir
        plus any crashed-rewrite leftovers; iceberg: DROP TABLE (one catalog
        commit). Returns True iff something existed."""
        self._invalidate(table)
        if self.fmt == "iceberg":
            if not self.exists(table):
                return False
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)}")
            return True
        import shutil

        found = False
        for suffix in ("", "__new", "__old"):
            p = self.path(table + suffix)
            if os.path.isdir(p):
                shutil.rmtree(p)
                found = found or suffix == ""
        return found

    def is_complete(self, table: str) -> bool:
        """True iff *table* finished writing. Parquet backend: Spark's
        _SUCCESS marker distinguishes a committed snapshot from a dir a
        killed run left half-written. Iceberg backend: commits are atomic,
        so existing ⇒ complete."""
        if self.fmt == "iceberg":
            return self.exists(table)
        return self._exists(os.path.join(self.path(table), "_SUCCESS"))

    # ---- manifests (the commit record — written LAST, atomically) --------
    def write_manifest(self, name: str, payload: dict) -> None:
        os.makedirs(self.path("manifest"), exist_ok=True)
        final = self.path("manifest", f"{name}.json")
        fd, tmp = tempfile.mkstemp(dir=self.path("manifest"), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, indent=2, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)  # POSIX-atomic publish

    def read_manifest(self, name: str) -> dict | None:
        p = self.path("manifest", f"{name}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def list_manifests(self) -> list[str]:
        d = self.path("manifest")
        if not os.path.isdir(d):
            return []
        return sorted(
            f[: -len(".json")] for f in os.listdir(d) if f.endswith(".json")
        )
