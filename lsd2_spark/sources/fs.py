"""Filesystem abstraction for the catalog LIFECYCLE layer.

The data plane (parquet scans/writes) already goes through Spark's
Hadoop FileSystem machinery, so moving a catalog to ``abfss://`` is
config-only for reads and writes (readers.py:187).  The lifecycle
layer — the metadata commit, leaf listings, removal of superseded or
unlisted files, fsck's walk — routes through this interface instead
of raw ``os.*`` I/O, which would pin those operations to a POSIX mount.
``LocalFS`` is the default, and an object-store deployment implements
the same contract over its own primitives (the Hadoop FileSystem via
the JVM gateway is the second implementation here: ``listdir`` →
``listStatus``, ``publish`` → create-then-rename or a conditional put).

Contract notes (what callers may and may not assume):

- ``publish(path, text)`` is the ONLY operation that must be
  atomic-and-durable: after it returns, a reader sees either the
  complete new content or (on crash before return) the complete
  previous state — never a torn file.  A catalog commits every change
  with one ``publish`` of its metadata.  LocalFS implements it as
  write-tmp + fsync + rename + directory fsync; an object store uses a
  single conditional PUT, which is natively atomic.
- ``remove``/``rmtree`` need not be atomic: a directory removal may
  delete its objects one by one and crash halfway.  Callers only ever
  remove files no committed metadata lists, so a half-done removal
  leaves garbage that the next pass removes, never a missing row
  (tests/test_lifecycle_fs.py crashes one to hold this).
- There is no rename: moving data would need it to be atomic for
  directories, which object stores cannot offer.  Write under fresh
  names and publish a pointer to them instead (the catalog's metadata
  names its files; see also operators/dedup_index.py's epoch scheme).
- ``remove``/``read_text``/``listdir`` raise ``FileNotFoundError`` like
  their ``os`` counterparts — callers tell "absent" from "unreadable"
  with it.
"""

from __future__ import annotations

import os
import shutil

__all__ = ["LifecycleFS", "LocalFS", "LOCAL_FS", "HadoopFS"]


class LifecycleFS:
    """Interface + default local implementation hooks (see module
    docstring for the atomicity contract per method)."""

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def publish(self, path: str, text: str) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError


class LocalFS(LifecycleFS):
    """POSIX implementation — the sandbox/default deployment."""

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def publish(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()


LOCAL_FS = LocalFS()


class HadoopFS(LifecycleFS):
    """Lifecycle layer over the Hadoop ``FileSystem`` API through the
    JVM gateway — the object-store/cluster implementation (``hdfs://``,
    ``s3a://``, ``abfss://``, ``file://``; whatever connectors the
    Spark classpath carries).  With this, "cloud is config-only" holds
    for the LIFECYCLE layer too, not just the parquet data plane.

    Contract mapping (see module docstring):

    - ``publish`` = create-then-``FileContext.rename(OVERWRITE)``.  On
      HDFS that rename is atomic in the NameNode; on a raw local
      ``file:`` path it degrades to the JVM's rename (still a single
      syscall).  A true object-store deployment should subclass and
      swap ``publish`` for the store's conditional PUT — S3A's rename
      is copy-then-delete, so it is not atomic there.
    - checksums are disabled on checksum-wrapping filesystems (the
      Hadoop ``LocalFileSystem``) so lifecycle listings never see stray
      ``.crc`` siblings.

    Lifetime: each instance holds PRIVATE ``FileSystem.newInstance``
    handles (one per scheme+authority), each with its own connection
    pools (e.g. s3a's) — so REUSE one ``HadoopFS`` per session and
    :meth:`close` it (or use it as a context manager) when done;
    constructing a fresh one per operation leaks a handle per
    construction for the JVM lifetime (ADVICE r10)."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs_cache: dict = {}

    def close(self) -> None:
        """Close every private FileSystem handle this instance opened
        (idempotent; the instance is reusable after — the next call
        simply opens fresh handles)."""
        handles, self._fs_cache = list(self._fs_cache.values()), {}
        for fs in handles:
            try:
                fs.close()
            except Exception:  # noqa: BLE001 — best-effort teardown
                pass

    def __enter__(self) -> "HadoopFS":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- plumbing -----------------------------------------------------------

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _get_fs(self, path: str):
        # PRIVATE (uncached) FileSystem instances, one per
        # (scheme, authority), held for this HadoopFS's lifetime.
        # FileSystem.get() returns the JVM-wide cached instance shared
        # with Spark's own driver I/O — flipping checksums on THAT
        # would silently disable .crc corruption detection for every
        # other user of the process, not just lifecycle paths.
        uri = self._jpath(path).toUri()
        key = (uri.getScheme(), uri.getAuthority())
        fs = self._fs_cache.get(key)
        if fs is None:
            fs = self._jvm.org.apache.hadoop.fs.FileSystem.newInstance(
                uri, self._conf
            )
            try:  # no-op on HDFS/object stores; kills .crc files on file:
                fs.setWriteChecksum(False)
                fs.setVerifyChecksum(False)
            except Exception:  # noqa: BLE001 — optional capability
                pass
            self._fs_cache[key] = fs
        return fs

    _NOT_FOUND = (
        "java.io.FileNotFoundException",
        "org.apache.hadoop.fs.PathNotFoundException",
    )

    def _io(self, path: str, fn, *args):
        from py4j.protocol import Py4JJavaError

        try:
            return fn(*args)
        except Py4JJavaError as e:
            name = e.java_exception.getClass().getName()
            if name in self._NOT_FOUND:
                raise FileNotFoundError(path) from None
            raise

    # -- interface ----------------------------------------------------------

    def listdir(self, path: str) -> list[str]:
        fs = self._get_fs(path)
        statuses = self._io(path, fs.listStatus, self._jpath(path))
        return [s.getPath().getName() for s in statuses]

    def isdir(self, path: str) -> bool:
        fs = self._get_fs(path)
        return bool(fs.isDirectory(self._jpath(path)))

    def exists(self, path: str) -> bool:
        fs = self._get_fs(path)
        return bool(fs.exists(self._jpath(path)))

    def makedirs(self, path: str) -> None:
        fs = self._get_fs(path)
        fs.mkdirs(self._jpath(path))

    def remove(self, path: str) -> None:
        fs = self._get_fs(path)
        if not self._io(path, fs.delete, self._jpath(path), False):
            raise FileNotFoundError(path)

    def rmtree(self, path: str) -> None:
        fs = self._get_fs(path)
        try:
            fs.delete(self._jpath(path), True)
        except Exception:  # noqa: BLE001 — mirrors ignore_errors=True
            pass

    def publish(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        fs = self._get_fs(path)
        out = fs.create(self._jpath(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            try:  # durable where the stream supports it (HDFS hsync)
                out.hsync()
            except Exception:  # noqa: BLE001 — optional capability
                pass
        finally:
            out.close()
        # atomic overwrite-rename: FileContext.rename(OVERWRITE) is the
        # one Hadoop rename with replace-existing semantics
        qualified = fs.makeQualified(self._jpath(path))
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            qualified.toUri(), self._conf
        )
        rename_cls = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        self._io(path, fc.rename, fs.makeQualified(self._jpath(tmp)), qualified, opts)

    def read_text(self, path: str) -> str:
        fs = self._get_fs(path)
        stream = self._io(path, fs.open, self._jpath(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
