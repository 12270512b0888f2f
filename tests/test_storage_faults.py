"""Fault-injection tests for the HadoopStorage error taxonomy.

The taxonomy's contract (storage.py / catalog.py): only a TRUE
not-found may read as "empty manifest"; every transient failure
(network, auth, throttling) must propagate loudly. These tests
inject py4j-shaped JVM exceptions through a monkeypatched
``FileSystem`` — the closest a sandbox without an object store can
get to the reference's fs/S3 dual matrix
(reference: tests exercise both backends; see
/root/reference/src/config/mod.rs-adjacent storage tests).

The key regression guarded here: py4j renders the FULL JVM stack
trace into ``str(e)``, so a throttling error whose trace merely
mentions ``FileNotFoundException`` (e.g. an S3A retry log line)
must NOT be classified as not-found. Classification must come from
``getClass().getName()`` walking ``getCause()``.
"""

from __future__ import annotations

import pytest

from toshokan_spark.storage import HadoopStorage, StorageNotFound


class FakeThrowable:
    """Duck-types the py4j view of java.lang.Throwable."""

    def __init__(self, class_name: str, message: str = "", cause=None):
        self._name = class_name
        self._message = message
        self._cause = cause

    def getClass(self):
        return self

    def getName(self):
        return self._name

    def getCause(self):
        return self._cause

    def getMessage(self):
        return self._message


class FakeP4JError(Exception):
    """Duck-types py4j.protocol.Py4JJavaError: carries the JVM
    throwable as ``java_exception`` and renders the full trace (cause
    chain included) into the message, exactly like py4j does."""

    def __init__(self, jexc: FakeThrowable, rendered: str):
        super().__init__(rendered)
        self.java_exception = jexc


def _transient_with_misleading_trace() -> FakeP4JError:
    """An S3A throttling failure whose RENDERED trace mentions
    FileNotFoundException (a retried inner attempt) but whose class
    chain is IOException <- SdkClientException: must propagate."""
    jexc = FakeThrowable(
        "java.io.IOException",
        "getFileStatus on s3a://bucket/k: throttled",
        cause=FakeThrowable(
            "com.amazonaws.SdkClientException", "rate exceeded"
        ),
    )
    rendered = (
        "An error occurred while calling o123.open.\n"
        ": java.io.IOException: getFileStatus on s3a://bucket/k\n"
        "\tat org.apache.hadoop.fs.s3a.S3AFileSystem.open\n"
        "\t... retry 1 suppressed: java.io.FileNotFoundException: "
        "transient 404 during retry storm\n"
        "Caused by: com.amazonaws.SdkClientException: rate exceeded\n"
    )
    return FakeP4JError(jexc, rendered)


def _true_not_found() -> FakeP4JError:
    jexc = FakeThrowable(
        "java.io.FileNotFoundException", "No such file: /x/manifest.json"
    )
    return FakeP4JError(
        jexc,
        "An error occurred while calling o123.open.\n"
        ": java.io.FileNotFoundException: No such file\n",
    )


def _nested_not_found() -> FakeP4JError:
    """Not-found wrapped by a connector (RemoteException <- FNFE):
    the cause walk must still classify it as not-found."""
    jexc = FakeThrowable(
        "org.apache.hadoop.ipc.RemoteException",
        "remote call failed",
        cause=FakeThrowable("java.io.FileNotFoundException", "gone"),
    )
    return FakeP4JError(jexc, "RemoteException: remote call failed")


def test_java_is_matches_class_not_rendered_trace():
    e = _transient_with_misleading_trace()
    assert not HadoopStorage._java_is(
        e, "FileNotFoundException", "PathNotFoundException"
    )
    assert HadoopStorage._java_is(_true_not_found(), "FileNotFoundException")
    assert HadoopStorage._java_is(_nested_not_found(), "FileNotFoundException")


def test_java_is_string_fallback_without_gateway_object():
    # non-py4j wrapper: only the rendered message is available
    assert HadoopStorage._java_is(
        RuntimeError("java.io.FileNotFoundException: /x"),
        "FileNotFoundException",
    )
    assert not HadoopStorage._java_is(
        RuntimeError("connection refused"), "FileNotFoundException"
    )


class _FaultFS:
    def __init__(self, exc: Exception):
        self._exc = exc

    def open(self, p):
        raise self._exc

    def listStatus(self, p):
        raise self._exc


def _faulty_storage(spark, exc: Exception) -> HadoopStorage:
    st = HadoopStorage(spark)
    st._fs = lambda path: (_FaultFS(exc), None)
    return st


def test_transient_error_propagates_not_masked(spark):
    """A throttling error whose trace mentions FileNotFoundException
    must surface as the original failure — never StorageNotFound
    (which catalog reads as an EMPTY manifest: silent data loss)."""
    st = _faulty_storage(spark, _transient_with_misleading_trace())
    with pytest.raises(FakeP4JError):
        st.read_text("s3a://bucket/idx/manifest.json")
    with pytest.raises(FakeP4JError):
        st.list_names("s3a://bucket/idx/manifests")


def test_true_not_found_reads_as_storage_not_found(spark):
    st = _faulty_storage(spark, _true_not_found())
    with pytest.raises(StorageNotFound):
        st.read_text("s3a://bucket/idx/manifest.json")
    with pytest.raises(StorageNotFound):
        st.list_names("s3a://bucket/idx/manifests")
    st2 = _faulty_storage(spark, _nested_not_found())
    with pytest.raises(StorageNotFound):
        st2.read_text("s3a://bucket/idx/manifest.json")


def test_catalog_sees_transient_as_failure_not_empty(catalog):
    """End-to-end through the REAL HadoopStorage classification: with
    a transient fault injected at the FileSystem layer, the catalog
    must raise — returning [] here is the masking bug. (The fault is
    injected below list_names/read_text so _java_is actually runs.)"""
    st = catalog._st
    if not isinstance(st, HadoopStorage):
        pytest.skip("catalog fixture not on the Hadoop path")
    orig = st._fs
    exc = _transient_with_misleading_trace()
    st._fs = lambda path: (_FaultFS(exc), None)
    try:
        with pytest.raises(FakeP4JError):
            catalog.segments("any_index")
    finally:
        st._fs = orig


def test_manifest_publish_is_whole_or_absent(catalog, monkeypatch):
    """Both backends publish a manifest version by writing a temp file
    and then linking/renaming it into place, so a reader never sees a
    version file empty or half-written. A writer that dies mid-write
    leaves no version file (and no temp file) behind, a second publish
    of the same version loses without touching the winner, and a
    latest doc that does not parse is corrupt and fails loudly."""
    import toshokan_spark.storage as storage
    from toshokan_spark.catalog import CatalogError

    st = catalog._st
    d = catalog._manifest_dir("pub")
    st.mkdirs(d)
    path = catalog._version_path("pub", 1)

    def died(*_a, **_k):
        raise OSError("writer died mid-write")

    with monkeypatch.context() as m:
        if isinstance(st, HadoopStorage):
            m.setattr(storage, "bytearray", died, raising=False)
        else:
            m.setattr(storage.os, "fsync", died)
        with pytest.raises(Exception, match="writer died"):
            st.write_text_exclusive(path, '{"segments":[]}')
    assert not st.exists(path)
    assert catalog.segments("pub") == []

    assert st.write_text_exclusive(path, '{"segments":[]}')
    assert not st.write_text_exclusive(path, '{"segments":[{"id":"x"}]}')
    assert st.read_text(path) == '{"segments":[]}'
    assert not [n for n in st.list_names(d) if ".tmp." in n]

    # a permanently torn latest fails loudly, never reads as empty
    monkeypatch.setattr(st, "read_text", lambda path: "")
    with pytest.raises(CatalogError):
        catalog.segments("pub")


def test_local_exclusive_publish_has_one_winner(tmp_path):
    """Concurrent publishes of one version: exactly one writer wins,
    and the file holds the winner's whole payload."""
    import threading

    from toshokan_spark.storage import LocalStorage

    st = LocalStorage()
    path = str(tmp_path / "v1.json")
    payloads = [f'{{"w":{i},"pad":"{"x" * 65536}"}}' for i in range(8)]
    won: list = []
    start = threading.Barrier(len(payloads))

    def publish(p):
        start.wait()
        if st.write_text_exclusive(path, p):
            won.append(p)

    threads = [threading.Thread(target=publish, args=(p,)) for p in payloads]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(won) == 1
    assert st.read_text(path) == won[0]
    assert sorted(st.list_names(str(tmp_path))) == ["v1.json"]
