"""Filesystem seam for lake metadata and commit IO.

``LakeTable`` and ``UnkeyedEventLog`` keep table METADATA (version
JSONs, the ``_current`` pointer, file listings) through this interface;
the DATA files themselves are written and read by Spark, whose paths
already go through the Hadoop FileSystem layer and accept any scheme
(``hdfs://``, ``s3a://``, ...). So this seam is exactly the piece that
was local-FS-bound — the ~10 ``os.*``/``open()`` call sites — and
swapping it is what makes the store object-store deployable.

Primitive → cluster mapping (each method documents its own):

  ===================== ============================= =====================
  primitive             HDFS / ABFS (rename-atomic)   S3 / object store
  ===================== ============================= =====================
  read_text / listdir   open + read / listStatus      GET / LIST
  replace_text (commit  atomic rename over the        conditional PUT
  pointer swap)         pointer file                  (If-Match on ETag) or
                                                      a catalog/DynamoDB
                                                      pointer row — what
                                                      Iceberg's S3 commit
                                                      does
  create_exclusive_text create(path, overwrite=false) conditional PUT
  (version commit lock) — atomic in HDFS              (If-None-Match: *)
  remove / rmtree       delete(recursive)             DELETE / batched
  ===================== ============================= =====================

A ``HadoopFS`` implementation is a thin wrapper over
``spark._jvm.org.apache.hadoop.fs.FileSystem`` (or fsspec): every
method above is a single Hadoop FS call, and the two commit primitives
are the only ones whose SEMANTICS matter — they must be atomic and
exclusive respectively, which HDFS rename/create give natively and S3
needs conditional requests for (both available since S3 added
If-None-Match/If-Match PUT support). Everything else is plain IO.

The default ``LocalFS`` keeps today's behavior bit-for-bit: POSIX
``os.replace`` is the atomic pointer swap, ``O_CREAT|O_EXCL`` the
commit lock — the contract the whole test suite runs through.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator


class LocalFS:
    """POSIX implementation — the sandbox/shared-mount deployment."""

    # ------------------------------------------------------------ read
    def read_text(self, path: str) -> str:
        """Cluster mapping: FileSystem.open + read (HDFS), GET (S3)."""
        with open(path) as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        """Cluster mapping: listStatus (HDFS), LIST prefix (S3)."""
        return os.listdir(path)

    def mtime(self, path: str) -> float:
        """Last-modification wall-clock (epoch seconds). Cluster
        mapping: FileStatus.getModificationTime (HDFS), LastModified
        (S3). Used as a WRITER-LIVENESS signal (orphan reaping), so it
        only needs coarse accuracy, not atomicity."""
        return os.path.getmtime(path)

    def walk(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        return os.walk(path)

    # ----------------------------------------------------------- write
    def makedirs(self, path: str, exist_ok: bool = False) -> None:
        """Cluster mapping: mkdirs (HDFS); a no-op on S3 (keys, not
        dirs) — ``exist_ok=False`` create-guards map to a probe LIST."""
        os.makedirs(path, exist_ok=exist_ok)

    def create_exclusive_text(self, path: str, text: str) -> None:
        """THE COMMIT LOCK: exactly one writer may create ``path``; a
        loser must get FileExistsError. Cluster mapping: HDFS
        create(path, overwrite=false) is atomic-exclusive; S3 needs
        conditional PUT with If-None-Match: * (412 → FileExistsError).
        """
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(text)

    def replace_text(self, path: str, text: str) -> None:
        """THE ATOMIC POINTER SWAP: readers see the old or the new
        content, never a torn write. POSIX: tmp file + os.replace.
        Cluster mapping: HDFS atomic rename over the pointer; S3:
        conditional PUT If-Match on the last-read ETag, or keep the
        pointer in a catalog row (Iceberg's S3 commit protocol)."""
        import uuid

        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    # ---------------------------------------------------------- delete
    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        """Cluster mapping: delete(path, recursive=true) / batched
        DELETE. Must not raise if the path is already gone."""
        shutil.rmtree(path, ignore_errors=True)


class HadoopFS:
    """Hadoop FileSystem implementation of the seam via ``spark._jvm``
    — the cluster deployment path (``hdfs://``, ``abfs://``, and any
    other scheme with atomic rename + exclusive create; for S3 use a
    catalog-pointer variant of ``replace_text`` as documented above).

    Each method is the single Hadoop FS call the LocalFS docstrings
    name. Locally it runs against ``file://`` (Hadoop's
    LocalFileSystem), which is how the test suite proves the swap is
    mechanical without a cluster: the SAME LakeTable code commits
    through Hadoop IO instead of ``os.*``.

    The two commit primitives keep their required semantics:
    ``create_exclusive_text`` uses ``create(path, overwrite=false)``
    (atomic-exclusive on HDFS; FileAlreadyExistsException →
    FileExistsError), and ``replace_text`` renames through
    ``FileContext.rename(..., Options.Rename.OVERWRITE)`` — the
    FileContext API, because plain ``FileSystem.rename`` refuses an
    existing destination instead of atomically replacing it."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    # ------------------------------------------------------- plumbing
    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._p(path).getFileSystem(self._conf)

    # ------------------------------------------------------------ read
    def read_text(self, path: str) -> str:
        fs = self._fs(path)
        p = self._p(path)
        if not fs.exists(p):
            raise FileNotFoundError(path)
        stream = fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        fs = self._fs(path)
        p = self._p(path)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def listdir(self, path: str) -> list[str]:
        fs = self._fs(path)
        return [
            s.getPath().getName() for s in fs.listStatus(self._p(path))
        ]

    def mtime(self, path: str) -> float:
        fs = self._fs(path)
        return fs.getFileStatus(self._p(path)).getModificationTime() / 1000.0

    def walk(self, path: str) -> Iterator[tuple[str, list[str], list[str]]]:
        fs = self._fs(path)
        if not fs.exists(self._p(path)):
            return
        dirs, files = [], []
        for s in fs.listStatus(self._p(path)):
            (dirs if s.isDirectory() else files).append(s.getPath().getName())
        yield path, dirs, files
        for d in dirs:
            yield from self.walk(os.path.join(path, d))

    # ----------------------------------------------------------- write
    def makedirs(self, path: str, exist_ok: bool = False) -> None:
        fs = self._fs(path)
        p = self._p(path)
        if not exist_ok and fs.exists(p):
            raise FileExistsError(path)
        fs.mkdirs(p)

    def _write_stream(self, path: str, text: str, overwrite: bool) -> None:
        fs = self._fs(path)
        out = fs.create(self._p(path), overwrite)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    @staticmethod
    def _is_already_exists(e: Exception) -> bool:
        """Classify the wrapped Java exception as a commit-race loss
        (→ FileExistsError) primarily by CLASS, walking the cause chain
        (bounded — cause chains can self-reference): an unrelated
        failure whose message merely contains 'already exists' (e.g. a
        parent-path error) must NOT be swallowed as a commit conflict.

        Two narrow fallbacks (ADVICE r6) so a benign race loser does
        not become a hard failure: an HDFS RemoteException the client
        did not unwrap carries the server-side class in getClassName();
        and connectors that raise a PLAIN java.io.IOException are
        accepted on an explicit 'already exists' marker — only on the
        innermost cause, only for that exact class, so a typed
        non-conflict failure can never match."""
        je = getattr(e, "java_exception", None)
        innermost = None
        for _ in range(8):
            if je is None:
                break
            name = je.getClass().getName()
            if name in (
                "org.apache.hadoop.fs.FileAlreadyExistsException",
                "java.nio.file.FileAlreadyExistsException",
            ):
                return True
            if name == "org.apache.hadoop.ipc.RemoteException":
                try:
                    if str(je.getClassName()).endswith(
                        "FileAlreadyExistsException"
                    ):
                        return True
                except Exception:
                    pass
            innermost = je
            je = je.getCause()
        if innermost is not None:
            try:
                msg = innermost.getMessage()
            except Exception:
                msg = None
            if (
                innermost.getClass().getName() == "java.io.IOException"
                and msg
                and "already exists" in str(msg).lower()
            ):
                return True
        return False

    def create_exclusive_text(self, path: str, text: str) -> None:
        try:
            self._write_stream(path, text, overwrite=False)
        except Exception as e:  # Py4JJavaError wrapping the Java exception
            if self._is_already_exists(e):
                raise FileExistsError(path) from e
            raise

    def replace_text(self, path: str, text: str) -> None:
        import uuid

        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        self._write_stream(tmp, text, overwrite=False)
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._p(path).toUri(), self._conf
        )
        ren = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(ren, 1)
        opts[0] = ren.OVERWRITE
        fc.rename(self._p(tmp), self._p(path), opts)

    # ---------------------------------------------------------- delete
    def remove(self, path: str) -> None:
        self._fs(path).delete(self._p(path), False)

    def rmtree(self, path: str) -> None:
        self._fs(path).delete(self._p(path), True)


DEFAULT_FS = LocalFS()


def fs_for(path: str, spark=None):
    """The seam for ``path``: ``HadoopFS`` for a scheme-qualified path
    (``hdfs://``, ``s3a://``; ``os.path`` on a URI is silently false),
    else ``DEFAULT_FS``."""
    return HadoopFS(spark) if spark is not None and "://" in path else DEFAULT_FS
