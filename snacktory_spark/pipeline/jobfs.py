"""Driver-side job state (manifests, chain records, index snapshots,
checkpoints) on the filesystem Spark's writer would use for the same path.

A job root is resolved the way the DataFrame writer resolves its output:
``Path(root).getFileSystem(<session Hadoop conf>)`` plus ``makeQualified``.
The session conf (``sessionState().newHadoopConf()``) carries Hadoop keys set
with ``spark.conf.set`` (fs.defaultFS, mount tables, per-session s3a
settings), which the SparkContext's ``hadoopConfiguration()`` does not. So a
schemeless root under a non-local default filesystem keeps its state next to
the data, not on the driver's disk.

When the qualified URI's scheme is ``file``, the state is read and written
with ``os``/``shutil``. Otherwise the Hadoop FileSystem is used. Hadoop's
local filesystem is much slower for small files: without the native library
(libhadoop) every create forks a ``chmod`` and writes a ``.crc`` (64 manifest
records: 531–896 ms through Hadoop vs 2.5–4.2 ms through ``os`` on a 4-core
VM). Resolution costs a few milliseconds once the filesystem is initialised,
so build one JobFS per job root and run, not one per record.

Paths passed to the methods are relative to the root ('' is the root).
"""

from __future__ import annotations

import json
import os
import shutil


class JobFS:
    def __init__(self, spark, root: str):
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        path = hpath(root)
        fs = path.getFileSystem(conf)
        uri = fs.makeQualified(path).toUri()
        if uri.getScheme() == "file":
            self._fs = None
            self.root = uri.getPath().rstrip("/")
        else:
            self._fs, self._hpath = fs, hpath
            self.root = uri.toString().rstrip("/")

    def _full(self, rel: str) -> str:
        return f"{self.root}/{rel}" if rel else self.root

    def listdir(self, rel: str = "", dirs_only: bool = False) -> list[str]:
        """Entry names under rel ([] when it does not exist)."""
        full = self._full(rel)
        if self._fs is None:
            try:
                with os.scandir(full) as it:
                    return [e.name for e in it
                            if not dirs_only or e.is_dir()]
            except (FileNotFoundError, NotADirectoryError):
                return []
        p = self._hpath(full)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)
                if not dirs_only or st.isDirectory()]

    def exists(self, rel: str) -> bool:
        full = self._full(rel)
        if self._fs is None:
            return os.path.exists(full)
        return bool(self._fs.exists(self._hpath(full)))

    def delete(self, rel: str) -> None:
        """Remove a file or a directory tree; a missing path is no error."""
        full = self._full(rel)
        if self._fs is not None:
            self._fs.delete(self._hpath(full), True)
        elif os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            try:
                os.remove(full)
            except FileNotFoundError:
                pass

    def read_json(self, rel: str):
        """The JSON record at rel; None when it is missing or torn."""
        full = self._full(rel)
        try:
            if self._fs is None:
                with open(full, "rb") as f:
                    raw = f.read()
            else:
                p = self._hpath(full)
                if not self._fs.exists(p):
                    return None
                stream = self._fs.open(p)
                try:
                    raw = bytes(stream.readAllBytes())
                finally:
                    stream.close()
            return json.loads(raw)
        except (OSError, json.JSONDecodeError):
            return None

    def write_json(self, rel: str, rec) -> None:
        """Write rec to rel through a .tmp sibling and a rename, so a kill
        mid-write never leaves a torn record under rel."""
        full = self._full(rel)
        data = json.dumps(rec).encode("utf-8")
        if self._fs is None:
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full + ".tmp", "wb") as f:
                f.write(data)
            os.replace(full + ".tmp", full)
            return
        dest, tmp = self._hpath(full), self._hpath(full + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(data)
        finally:
            out.close()
        # Hadoop's rename does not overwrite; delete-then-rename leaves at
        # worst a MISSING record (the work re-runs: the safe direction)
        self._fs.delete(dest, False)
        self._fs.rename(tmp, dest)
