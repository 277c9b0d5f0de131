"""Iteration checkpointing with per-partition lineage + metrics (SURVEY.md S6).

The north_rule requires runs that "resume from checkpoint with per-partition
lineage + metrics".  On a cluster with an Iceberg catalog this is a snapshot
append to an Iceberg table; the sandbox has no Iceberg runtime jar
(SURVEY.md §0), so the same semantics are provided by a parquet snapshot
directory plus a JSON manifest written last as the commit marker:

    <root>/iter=<K>/part-*.parquet      state snapshot
    <root>/iter=<K>/_MANIFEST.json      {iteration, metrics, lineage:[{part,
                                         rows, bytes, checksum}], committed}

An interrupted write leaves no manifest → the snapshot is invisible to
resume, exactly like an uncommitted Iceberg snapshot.  `latest()` returns
the newest committed snapshot; `read_state` restores the state DataFrame.

All filesystem access goes through the Hadoop FileSystem API resolved from
the checkpoint root's scheme, so the same code path works for file://,
hdfs:// and s3a:// roots (the spark-submit --checkpoint s3a://bucket/chk
deployment path) — no driver-local os.listdir anywhere.  Per-file row
counts for the lineage records come from a distributed parquet-footer scan
(input_file_name + count), not from driver-local footer reads.
"""

from __future__ import annotations

import json
import posixpath
import time

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem for the
    manifest/listing I/O (data I/O is Spark's own parquet reader/writer)."""

    def __init__(self, spark: SparkSession, root: str):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(sc._jsc.hadoopConfiguration())
        try:
            # LocalFileSystem keeps .crc sidecars; a manifest legitimately
            # rewritten out-of-band (ops tooling) must still be readable —
            # corruption detection is the manifest row-count audit, not
            # client-side CRCs (object stores have none either)
            self._fs.setVerifyChecksum(False)
        except Py4JError:
            pass

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def delete(self, path: str, recursive: bool = True) -> bool:
        """FS-API recursive delete — works on file://, hdfs:// and s3a://
        (a driver-local shutil.rmtree silently no-ops on anything but the
        driver's own disk)."""
        return bool(self._fs.delete(self._Path(path), recursive))

    def list(self, path: str) -> list[tuple[str, int, bool]]:
        """[(name, bytes, is_dir)] for direct children of path."""
        if not self.exists(path):
            return []
        out = []
        for st in self._fs.listStatus(self._Path(path)):
            out.append((st.getPath().getName(), int(st.getLen()), bool(st.isDirectory())))
        return out

    def write_text(self, path: str, text: str) -> None:
        stream = self._fs.create(self._Path(path), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        # copyBytes closes both streams (closeAll=True)
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
        return bytes(baos.toByteArray()).decode("utf-8")


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.fs = _HadoopFS(spark, root)
        self.fs.mkdirs(root)

    # ------------------------------------------------------------------ write
    def write_state(self, state: DataFrame, iteration: int, metrics: dict) -> None:
        """Snapshot `state` and commit its manifest.  Two jobs: the write,
        and the per-file row counts read back with `state`'s schema (no
        footer-inference job), both planned in `state`'s session (inside a
        `fixpoint`, the loop's: AQE off, so the counts are one job).  The
        caller keeps its in-memory state."""
        path = posixpath.join(self.root, f"iter={iteration}")
        state.write.mode("overwrite").parquet(path)
        sizes = {
            name: nbytes
            for name, nbytes, is_dir in self.fs.list(path)
            if name.endswith(".parquet") and not is_dir
        }
        # distributed per-file row counts (works on any FS; no local footer reads)
        rows_by_file = {
            posixpath.basename(r["f"]): r["n"]
            for r in (
                state.sparkSession.read.schema(state.schema)
                .parquet(path)
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.count("*").alias("n"))
                .collect()
            )
        }
        lineage = []
        total_rows = 0
        for name in sorted(sizes):
            rows = int(rows_by_file.get(name, 0))
            total_rows += rows
            lineage.append(
                {
                    "part": name,
                    "rows": rows,
                    "bytes": sizes[name],
                    # cheap content fingerprint (parquet pages are already
                    # checksummed internally)
                    "checksum": f"{rows}:{sizes[name]}",
                }
            )
        manifest = {
            "iteration": iteration,
            "ts": time.time(),
            "rows": total_rows,
            "metrics": metrics,
            "lineage": lineage,
            "committed": True,
        }
        self.fs.write_text(posixpath.join(path, "_MANIFEST.json"), json.dumps(manifest))

    # ------------------------------------------------------------------- read
    def snapshots(self) -> list[dict]:
        out = []
        for name, _, is_dir in self.fs.list(self.root):
            if not (is_dir and name.startswith("iter=")):
                continue
            mf = posixpath.join(self.root, name, "_MANIFEST.json")
            if not self.fs.exists(mf):
                continue
            m = json.loads(self.fs.read_text(mf))
            if m.get("committed"):
                m["path"] = posixpath.join(self.root, name)
                out.append(m)
        return sorted(out, key=lambda m: m["iteration"])

    def latest(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def read_state(self, snapshot: dict) -> DataFrame:
        df = self.spark.read.parquet(snapshot["path"])
        expected = snapshot["rows"]
        # lineage audit: partition row counts must match the manifest
        actual = df.count()
        if actual != expected:
            raise RuntimeError(
                f"checkpoint {snapshot['path']} corrupt: {actual} rows != manifest {expected}"
            )
        return df


def _iceberg_available(spark: SparkSession) -> bool:
    """Capability check for an Iceberg catalog (absent in this sandbox)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Py4JError:
        return False
