"""Storage backends: the object-storage seam for catalog + lifecycle.

The reference's whole point is "index on object storage" — every
integration case runs on BOTH a local fs and S3 via two OpenDAL
operators (`/root/reference/tests/config.rs:133-233`,
`src/commands/mod.rs:70-99`). This module is the same seam for the
Spark build:

* :class:`LocalStorage` — ``os.*`` with write-temp + ``os.replace``
  (rename is atomic on POSIX), for bare paths and ``file://`` URIs.
* :class:`HadoopStorage` — Spark's JVM Hadoop ``FileSystem`` API, so
  the catalog speaks every scheme the cluster's connectors speak
  (``s3a://``, ``gs://``, ``abfs://``, ``hdfs://``) with the exact
  same credentials/configuration the data-plane Parquet writes use.
  No extra Python dependency: catalog ops are tiny metadata reads
  and writes, so the py4j round-trip cost is irrelevant.

Atomicity contract per backend:

* LocalStorage: temp file + ``os.replace`` — atomic replace; temp
  file + ``os.link`` for the exclusive (create-if-absent) write.
* HadoopStorage: a single ``create(overwrite=true)`` stream ("PUT");
  temp file + rename-without-overwrite for the exclusive write.
  On S3/GCS/ABFS a PUT is atomic — readers see the old or the new
  manifest, never a torn one (the object materializes only at close).
  On hierarchical stores (hdfs) a concurrent reader could in theory
  observe an unfinished file; the engine's single-writer-per-index
  contract (same as the reference CLI, which relied on Postgres
  transactions instead) makes that window unreachable in practice.

The data plane (segment Parquet files) always goes through Spark with
the same URI, so one path string in the index config drives both
planes. ``storage_for`` routes by scheme.
"""

from __future__ import annotations

import os
import secrets
import shutil
from abc import ABC, abstractmethod
from typing import Optional


class StorageNotFound(FileNotFoundError):
    """A path that does not exist, normalized across backends (the
    local backend's ``FileNotFoundError`` and the JVM side's
    ``FileNotFoundException`` both map here). Callers that want to
    treat "missing" as empty catch THIS — anything else (auth,
    network, quota) propagates, so a transient storage failure can
    never masquerade as an empty catalog."""


def path_scheme(path: str) -> str:
    """"s3a://bucket/key" -> "s3a"; "" for scheme-less local paths."""
    i = path.find("://")
    return path[:i] if i > 0 else ""


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def join_path(base: str, *parts: str) -> str:
    """Join that preserves URI schemes (object-store keys are always
    '/'-separated; os.path.join would be wrong on a URI)."""
    if "://" in base:
        return "/".join([base.rstrip("/"), *parts])
    return os.path.join(base, *parts)


class Storage(ABC):
    """Minimal filesystem surface the catalog + lifecycle ops need.

    Mirrors the slice of OpenDAL the reference uses
    (`src/commands/mod.rs:70-99`: writer, list, remove_all, stat).
    """

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def read_text(self, path: str) -> str: ...

    @abstractmethod
    def write_text_atomic(self, path: str, payload: str) -> None: ...

    @abstractmethod
    def write_text_exclusive(self, path: str, payload: str) -> bool:
        """Create *path* with *payload* only if it does not already
        exist; returns False (writing nothing) when it does. The file
        is published whole: a reader never sees it empty or partly
        written. The CAS primitive for the versioned manifest log."""

    @abstractmethod
    def delete_file(self, path: str) -> None: ...

    @abstractmethod
    def delete_tree(self, path: str) -> None:
        """Recursive best-effort delete; never raises on missing."""

    @abstractmethod
    def mkdirs(self, path: str) -> None: ...

    @abstractmethod
    def list_names(self, path: str) -> list[str]:
        """Immediate child names (not full paths) of a directory/prefix."""

    @abstractmethod
    def mtime(self, path: str) -> Optional[float]:
        """Store-reported modification time (seconds since epoch);
        None when the path does not exist. Used by vacuum's in-flight
        write guard."""


class LocalStorage(Storage):
    """POSIX fs backend (default for bare and ``file://`` paths)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(strip_file_scheme(path))

    def read_text(self, path: str) -> str:
        try:
            with open(strip_file_scheme(path), encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError as e:
            raise StorageNotFound(str(e)) from e

    def write_text_atomic(self, path: str, payload: str) -> None:
        path = strip_file_scheme(path)
        tmp = f"{path}.tmp.{secrets.token_hex(4)}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def write_text_exclusive(self, path: str, payload: str) -> bool:
        # write the whole payload to a temp file, then hard-link it to
        # the version path: link() is atomic create-if-absent on POSIX,
        # so exactly one concurrent writer wins a given version file,
        # and a reader never sees it empty or half-written (a writer
        # that dies before the link leaves only the temp file behind)
        path = strip_file_scheme(path)
        tmp = f"{path}.tmp.{secrets.token_hex(4)}"
        try:
            with open(tmp, "x", encoding="utf-8") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def delete_file(self, path: str) -> None:
        os.remove(strip_file_scheme(path))

    def delete_tree(self, path: str) -> None:
        shutil.rmtree(strip_file_scheme(path), ignore_errors=True)

    def mkdirs(self, path: str) -> None:
        os.makedirs(strip_file_scheme(path), exist_ok=True)

    def list_names(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(strip_file_scheme(path)))
        except (FileNotFoundError, NotADirectoryError) as e:
            raise StorageNotFound(str(e)) from e

    def mtime(self, path: str) -> Optional[float]:
        try:
            return os.path.getmtime(strip_file_scheme(path))
        except OSError:
            return None


class HadoopStorage(Storage):
    """Hadoop ``FileSystem`` backend via the Spark JVM gateway.

    One instance serves every scheme: each call resolves the path's
    own FileSystem from the active Hadoop configuration, exactly as
    Spark's Parquet writer does — so catalog metadata and segment
    data use identical credentials and endpoints.
    """

    def __init__(self, spark=None):
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "HadoopStorage needs an active SparkSession "
                    "(its JVM hosts the Hadoop FileSystem connectors)"
                )
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _fs(self, path: str):
        jpath = self._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self._conf), jpath

    @staticmethod
    def _java_is(e: Exception, *class_names: str) -> bool:
        """Match a py4j-wrapped JVM exception by Java class NAME,
        walking the ``getCause()`` chain.

        The class name must come from ``getClass().getName()``, not
        from ``str(e)``: py4j renders the FULL stack trace and cause
        chain into the message, so an unrelated failure whose trace
        merely *mentions* ``FileNotFoundException`` (e.g. an S3A retry
        log line inside a throttling error) would substring-match and
        be misclassified as not-found — masked as an empty manifest,
        the exact failure mode the error taxonomy exists to prevent.
        The substring check over ``str(e)`` survives only as the
        fallback for non-py4j wrappers or a broken gateway object.
        """
        jexc = getattr(e, "java_exception", None)
        if jexc is not None:
            try:
                cur, hops = jexc, 0
                while cur is not None and hops < 16:
                    name = str(cur.getClass().getName())
                    if any(c in name for c in class_names):
                        return True
                    cur = cur.getCause()
                    hops += 1
                return False
            except Exception:
                pass  # gateway hiccup mid-inspection: fall back
        s = str(e)
        return any(c in s for c in class_names)

    def exists(self, path: str) -> bool:
        fs, p = self._fs(path)
        return bool(fs.exists(p))

    def read_text(self, path: str) -> str:
        fs, p = self._fs(path)
        try:
            stream = fs.open(p)
        except Exception as e:
            if self._java_is(e, "FileNotFoundException", "PathNotFoundException"):
                raise StorageNotFound(path) from e
            raise
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, payload: str) -> None:
        # single create(overwrite) stream == one PUT; atomic on object
        # stores (see module docstring for the hdfs caveat)
        fs, p = self._fs(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(payload.encode("utf-8")))
        finally:
            out.close()

    def write_text_exclusive(self, path: str, payload: str) -> bool:
        # temp file, then rename WITHOUT overwrite (FileContext rename
        # with Options.Rename.NONE): the version file appears whole or
        # not at all, and on HDFS the rename is an atomic
        # create-if-absent. On S3A rename is copy + delete and the
        # existence check is not atomic, so two concurrent committers
        # can both win the same manifest version and one commit is
        # silently lost: object-store indexes require a single writer
        # per index (the reference relied on Postgres transactions for
        # the same guarantee), or a backend with conditional PUT
        # (If-None-Match) wired in here. Only the already-exists
        # failure may report False; anything else (auth, network,
        # quota) must propagate, or an infrastructure outage shows up
        # as 50 bogus "CAS contention" retries.
        fs, p = self._fs(path)
        tmp = self._jvm.org.apache.hadoop.fs.Path(
            p.getParent(), f".{p.getName()}.tmp.{secrets.token_hex(4)}"
        )
        rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gateway.new_array(rename, 1)
        opts[0] = rename.NONE
        try:
            out = fs.create(tmp, False)
            try:
                out.write(bytearray(payload.encode("utf-8")))
            finally:
                out.close()
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                p.toUri(), self._conf
            )
            fc.rename(tmp, p, opts)
            return True
        except Exception as e:
            if self._java_is(e, "FileAlreadyExistsException", "AlreadyExists"):
                return False
            raise
        finally:
            try:
                fs.delete(tmp, False)
            except Exception:
                pass  # best-effort: a leaked temp file is never read

    def delete_file(self, path: str) -> None:
        fs, p = self._fs(path)
        fs.delete(p, False)

    def delete_tree(self, path: str) -> None:
        fs, p = self._fs(path)
        try:
            fs.delete(p, True)
        except Exception:
            # best-effort, reference stance: leaks tolerated, logged
            pass

    def mkdirs(self, path: str) -> None:
        fs, p = self._fs(path)
        fs.mkdirs(p)

    def list_names(self, path: str) -> list[str]:
        fs, p = self._fs(path)
        try:
            statuses = fs.listStatus(p)
        except Exception as e:
            if self._java_is(e, "FileNotFoundException", "PathNotFoundException"):
                raise StorageNotFound(path) from e
            raise
        return sorted(s.getPath().getName() for s in statuses)

    def mtime(self, path: str) -> Optional[float]:
        fs, p = self._fs(path)
        try:
            return fs.getFileStatus(p).getModificationTime() / 1000.0
        except Exception as e:
            if self._java_is(e, "FileNotFoundException", "PathNotFoundException"):
                return None
            raise


def storage_for(path: str, spark=None, force_hadoop: bool = False) -> Storage:
    """Route by scheme: local fs for bare / ``file://`` paths, Hadoop
    FileSystem for everything else (``s3a://``, ``hdfs://``, ...).
    ``force_hadoop`` sends even local paths through the Hadoop API —
    the test hook that exercises the object-store code path without an
    object store in the environment (the same API surface s3a uses,
    matching the reference's fs/S3 dual test matrix as closely as the
    sandbox allows)."""
    scheme = path_scheme(path)
    if force_hadoop or scheme not in ("", "file"):
        return HadoopStorage(spark)
    return LocalStorage()
