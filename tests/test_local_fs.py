"""The session's ``file://`` FileSystem (``session.LOCAL_FS_CLASS``): the
stock checksummed LocalFileSystem with permissions set inside the JVM
instead of by a forked ``chmod`` per file and directory."""

import logging
import os
import stat
import zipfile

import pytest

from granulate_char_ocr_spark import session


def _forks() -> int:
    """Processes this host has created since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@pytest.fixture(scope="module")
def hadoop(spark):
    if session.local_fs_jar() is None:
        pytest.skip("no javac: the session keeps Hadoop's file:// FileSystem")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI.create("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(uri, conf)
    yield jvm, fs, stock
    stock.close()


def _write(jvm, fs, base: str, name: str) -> str:
    """mkdirs ``base/name`` and create ``part`` in it; the file's path."""
    d = jvm.org.apache.hadoop.fs.Path(f"file://{base}/{name}")
    assert fs.mkdirs(d)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(d, "part"))
    out.write(b"x")
    out.close()
    return os.path.join(base, name, "part")


def test_session_file_scheme_is_in_process(hadoop):
    _, fs, _ = hadoop
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    # the running JVM loads the class, so a later get_spark keeps the conf
    conf = session.local_fs_conf()
    assert conf["spark.hadoop.fs.file.impl"] == session.LOCAL_FS_CLASS


def test_modes_equal_stock_filesystem(hadoop, tmp_path):
    jvm, fs, stock = hadoop
    got = _write(jvm, fs, str(tmp_path / "new"), "d")
    want = _write(jvm, stock, str(tmp_path / "stock"), "d")
    modes = [
        (_mode(os.path.dirname(p)), _mode(p), _mode(f"{os.path.dirname(p)}/.part.crc"))
        for p in (got, want)
    ]
    assert modes[0] == modes[1]
    # Hadoop's default fs.permissions.umask-mode is 022
    assert modes[0] == (0o755, 0o644, 0o644)


@pytest.mark.parametrize("mode", ["640", "700"])
def test_explicit_permission_applied(hadoop, tmp_path, mode):
    jvm, fs, _ = hadoop
    path = _write(jvm, fs, str(tmp_path), "d")
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(f"file://{path}"), perm)
    assert _mode(path) == int(mode, 8)


def test_sticky_bit_falls_back_to_chmod(hadoop, tmp_path):
    """NIO cannot set the sticky bit: that mode takes the stock, forking
    path, and the bit lands."""
    jvm, fs, _ = hadoop
    d = tmp_path / "shared"
    d.mkdir()
    forks = _forks()
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission("1777")
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(f"file://{d}"), perm)
    assert _forks() > forks
    assert _mode(d) == 0o1777


def test_writes_fork_no_chmod(hadoop, tmp_path):
    """50 new directories with one file each: the stock FileSystem forks
    ~6 chmods apiece (~300), this one none."""
    jvm, fs, _ = hadoop
    forks = _forks()
    for i in range(50):
        _write(jvm, fs, str(tmp_path), f"d{i}")
    assert _forks() - forks < 10


def test_jar_build_replaces_stale(monkeypatch, tmp_path):
    """A missing jar is compiled into dist/ under the source's hash, and
    jars of older sources are deleted."""
    if session.shutil.which("javac") is None:
        pytest.skip("no javac")
    monkeypatch.setattr(session, "_DIST_DIR", str(tmp_path))
    stale = tmp_path / f"{session._LOCAL_FS_JAR_PREFIX}0000000000.jar"
    stale.write_bytes(b"")
    session.local_fs_jar.cache_clear()
    try:
        jar = session.local_fs_jar()
    finally:
        session.local_fs_jar.cache_clear()
    assert os.path.dirname(jar) == str(tmp_path)
    assert not stale.exists()
    with zipfile.ZipFile(jar) as z:
        names = set(z.namelist())
    assert {
        "granulate/hadoop/InProcessLocalFileSystem.class",
        "granulate/hadoop/InProcessLocalFileSystem$Raw.class",
    } <= names


def test_no_javac_keeps_stock_filesystem(monkeypatch, tmp_path, caplog):
    monkeypatch.setattr(session, "_DIST_DIR", str(tmp_path))
    monkeypatch.setattr(session.shutil, "which", lambda _name: None)
    session.local_fs_jar.cache_clear()
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            assert session.local_fs_conf() == {}
            assert session.local_fs_conf() == {}
    finally:
        session.local_fs_jar.cache_clear()
    assert len(caplog.records) == 1
    assert "javac" in caplog.records[0].getMessage()
    assert not list(tmp_path.iterdir())
