"""Snapshot log — versioned parquet tables with time travel and rollback.

Beyond-reference tier: the reference writes straight into Milvus with no
history (modules/vector_store.py — insert/drop only). The store's
copy-on-write upsert and compaction swap whole directories through
``store/collections.py:replace_dir``, whose readers are safe only where
rename is atomic; this module is the table format that lifts that limit,
reduced to its load-bearing core (the Delta/Iceberg mechanism, ~150
lines, no new dependencies):

* Data files are immutable parquet parts under ``<root>/files/``; a
  commit NEVER rewrites or deletes a data file.
* A version is a manifest: ``<root>/_log/<version>.json`` listing the
  data files that make up the table at that version (plus counts and a
  note). Readers resolve a version (latest by default) and read exactly
  its file list — a writer can commit mid-read and the reader still
  sees a consistent snapshot.
* Commit = write manifest to a temp name, then RENAME to
  ``<version>.json``. Rename-if-absent is the atomic primitive: two
  writers racing to the same version — one rename wins, the loser
  re-reads the log and retries on the next number (optimistic
  concurrency, same as Delta's transaction protocol).
* ``append`` adds files to the previous manifest; ``overwrite`` starts a
  fresh file list; ``rollback(v)`` commits a NEW version whose file list
  is version v's (history is never destroyed — audits keep working).
* ``vacuum`` deletes data files referenced by NO manifest (safe because
  manifests are append-only and files immutable).

At 100 TB the manifest is tiny (file names + counts), commits are O(new
files), and time travel is free — the expensive thing, rewriting data,
is exactly what the design never does. On HDFS rename-if-absent is
atomic; on object stores without atomic rename, front the log with a
conditional-put (the same caveat and remedy as Delta on S3).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_etl_spark.store.collections import hadoop_fs


class SnapshotStore:
    """A versioned parquet table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
        self._fs, _ = hadoop_fs(spark, self.root)
        for d in (f"{self.root}/files", f"{self.root}/_log"):
            self._fs.mkdirs(self._jvm_path(d))

    # -- log plumbing --------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions, ascending."""
        log = self._jvm_path(f"{self.root}/_log")
        if not self._fs.exists(log):
            return []
        out = []
        for st in self._fs.listStatus(log):
            name = st.getPath().getName()
            if name.endswith(".json") and not name.startswith("."):
                try:
                    out.append(int(name[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def _manifest(self, version: int) -> dict:
        """Parse ``_log/<version>.json``. Read JVM-side (commons-io ships
        with Spark): py4j does not copy mutations back into a Python
        bytearray buffer."""
        io = self.spark._jvm.org.apache.commons.io.IOUtils  # noqa: SLF001
        stream = self._fs.open(
            self._jvm_path(f"{self.root}/_log/{version}.json")
        )
        try:
            text = io.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def _try_commit(self, version: int, manifest: dict) -> bool:
        """Atomic publish: write temp, rename to ``<version>.json``. The
        rename fails if the destination exists — the loser of a race
        retries with the next version number."""
        log = f"{self.root}/_log"
        self._fs.mkdirs(self._jvm_path(log))
        tmp = self._jvm_path(f"{log}/.tmp-{version}-{time.time_ns()}.json")
        out = self._fs.create(tmp, False)
        try:
            out.write(json.dumps(manifest, sort_keys=True).encode("utf-8"))
        finally:
            out.close()
        dest = self._jvm_path(f"{log}/{version}.json")
        if self._fs.exists(dest):
            self._fs.delete(tmp, False)
            return False
        ok = self._fs.rename(tmp, dest)
        if not ok:
            self._fs.delete(tmp, False)
        return bool(ok)

    # -- commits -------------------------------------------------------------

    def _write_parts(self, df: DataFrame, version_hint: int) -> list[str]:
        """Write df as immutable parts under files/ using a unique
        subdirectory per commit attempt (files are never shared between
        attempts, so a failed commit leaves only unreferenced files for
        vacuum)."""
        sub = f"{self.root}/files/c-{time.time_ns()}-{version_hint}"
        df.write.mode("error").parquet(sub)
        out = []
        for st in self._fs.listStatus(self._jvm_path(sub)):
            name = st.getPath().getName()
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                out.append(f"{sub}/{name}")
        return sorted(out)

    def _commit_with(self, build, note: str) -> int:
        """Optimistic-concurrency loop: re-read the log, BUILD the
        manifest against the latest state (so a lost rename race rebases
        on whatever won — append semantics stay append even under
        contention), publish, retry on conflict."""
        while True:
            vs = self.versions()
            version = (vs[-1] + 1) if vs else 0
            files, n_rows = build(vs)
            manifest = {
                "version": version,
                "files": files,
                "n_rows": n_rows,
                "note": note,
            }
            if self._try_commit(version, manifest):
                return version

    def append(self, df: DataFrame, note: str = "") -> int:
        """New version = LATEST file list + df's new files (rebased
        inside the retry loop — a concurrent commit between log read and
        publish is appended onto, never silently dropped)."""
        new_files = self._write_parts(df, len(self.versions()))
        n = df.sparkSession.read.parquet(*new_files).count() if new_files else 0

        def build(vs):
            prev = (
                self._manifest(vs[-1]) if vs else {"files": [], "n_rows": 0}
            )
            return prev["files"] + new_files, prev["n_rows"] + n

        return self._commit_with(build, note or "append")

    def overwrite(self, df: DataFrame, note: str = "") -> int:
        """New version = df's files only (logical replace; old files stay
        for time travel until vacuumed)."""
        new_files = self._write_parts(df, len(self.versions()))
        n = df.sparkSession.read.parquet(*new_files).count() if new_files else 0
        return self._commit_with(
            lambda vs: (new_files, n), note or "overwrite"
        )

    def rollback(self, version: int, note: str = "") -> int:
        """Commit a NEW version with an old version's file list."""
        m = self._manifest(version)
        return self._commit_with(
            lambda vs: (m["files"], m["n_rows"]),
            note or f"rollback to {version}",
        )

    # -- reads ---------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table at ``version`` (default: latest). Empty table (no
        commits) is an error — commit first."""
        vs = self.versions()
        if not vs:
            raise ValueError(f"snapshot table {self.root} has no commits")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"unknown version {v}; have {vs}")
        m = self._manifest(v)
        if not m["files"]:
            return self.spark.createDataFrame([], schema="__empty string")
        return self.spark.read.parquet(*m["files"])

    # -- maintenance ---------------------------------------------------------

    def vacuum(self, grace_s: float = 900.0) -> list[str]:
        """Delete data files referenced by NO manifest (crashed commit
        leftovers, or overwritten history after manifests are pruned by
        an outside retention policy). Returns the deleted paths.

        ``grace_s``: skip subdirectories written within the last
        ``grace_s`` seconds. ``_write_parts`` lands files BEFORE
        ``_try_commit`` publishes the manifest, so an un-referenced
        directory younger than the grace window may belong to an
        in-flight commit — deleting it would corrupt that commit. The
        directory's age is the MAX of the ``c-<time_ns>-*`` name-encoded
        writer clock and the filesystem's own modification time: the
        name alone trusts the remote writer's clock,
        so with multi-machine writers a skew larger than ``grace_s``
        could delete an in-flight commit the local filesystem just saw
        being written. Pass ``grace_s=0`` only when no writer can be
        active (mirrors CollectionStore.vacuum)."""
        live: set[str] = set()
        for v in self.versions():
            live.update(self._manifest(v)["files"])
        deleted = []
        cutoff_ns = time.time_ns() - int(grace_s * 1e9)
        files_root = self._jvm_path(f"{self.root}/files")
        for sub in self._fs.listStatus(files_root):
            if not sub.isDirectory():
                continue
            sub_path = sub.getPath()
            parts = sub_path.getName().split("-")
            name_ns = (
                int(parts[1])
                if len(parts) >= 2 and parts[0] == "c" and parts[1].isdigit()
                else 0
            )
            mtime_ns = sub.getModificationTime() * 1_000_000
            if max(name_ns, mtime_ns) > cutoff_ns:
                continue
            all_dead = True
            members = []
            for st in self._fs.listStatus(sub_path):
                name = st.getPath().getName()
                full = f"{self.root}/files/{sub_path.getName()}/{name}"
                members.append((st.getPath(), full, name))
                if name.endswith(".parquet") and not name.startswith(
                    ("_", ".")
                ) and full in live:
                    all_dead = False
            if all_dead and members:
                self._fs.delete(sub_path, True)
                deleted.extend(full for _p, full, _n in members)
        return deleted


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style diff of two table states (the companion to the snapshot
    log: ``table_diff(store.read(v1), store.read(v2), keys)`` explains a
    commit): classify every key as ``added`` (new only), ``removed``
    (old only), ``changed`` (present in both, any compare column
    differs, NULL-safe), or ``unchanged``. Returns key columns +
    ``change_type``.

    Shape: ONE full outer join keyed by ``key_cols`` — sort-merge at
    scale, no collect, no per-row Python; comparisons are null-safe
    ``<=>`` column expressions (engine twin: IS NOT DISTINCT FROM). At
    100 TB both sides shuffle once on the same key — if the states are
    snapshot versions of a bucketed table, even that exchange drops out.
    ``compare_cols`` defaults to all shared non-key columns; keys must
    be unique per side (enforce upstream with integrity checks — a dup
    key would fan the join out)."""
    if not key_cols:
        raise ValueError("table_diff: key_cols must be non-empty")
    shared = [c for c in old.columns if c in set(new.columns)]
    compare_cols = (
        compare_cols
        if compare_cols is not None
        else [c for c in shared if c not in set(key_cols)]
    )
    missing = [
        c
        for c in (*key_cols, *compare_cols)
        if c not in old.columns or c not in new.columns
    ]
    if missing:
        raise ValueError(f"table_diff: columns missing from a side: {missing}")
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"__ov_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        *[F.col(c).alias(f"__nv_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}") == F.col(f"__nk_{c}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__ov_{c}").eqNullSafe(F.col(f"__nv_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"__ok_{c}"), F.col(f"__nk_{c}")).alias(c)
            for c in key_cols
        ],
        change.alias("change_type"),
    )
