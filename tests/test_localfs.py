"""The fork-free file:// filesystem (hydra_spark/jvm, installed by
session.ENGINE_CONF) against Hadoop's stock classes: the same modes, link
status and checksum sidecars, from java.nio instead of forked chmod and
readlink processes. The stock RawLocalFileSystem is the reference,
driven side by side through py4j."""

import os
import subprocess
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from hydra_spark.session import LOCALFS_JAR
from tests.conftest import REPO


def _raw(jvm, cls, umask):
    conf = jvm.org.apache.hadoop.conf.Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs = cls()
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def _pair(jvm, umask="022"):
    """(stock, override) raw local filesystems under one umask."""
    return (
        _raw(jvm, jvm.org.apache.hadoop.fs.RawLocalFileSystem, umask),
        _raw(jvm, jvm.hydra.localfs.NioRawLocalFileSystem, umask),
    )


def _mode(path) -> int:
    return os.stat(path).st_mode & 0o7777


def _java_error(call) -> str:
    with pytest.raises(Py4JJavaError) as e:
        call()
    return e.value.java_exception.getClass().getName()


@pytest.mark.parametrize("umask", ["022", "077"])
def test_create_and_mkdirs_modes(spark, tmp_path, umask):
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    modes = {}
    for name, fs in zip(("stock", "nio"), _pair(jvm, umask)):
        d = tmp_path / name
        fs.create(Path(str(d / "default"))).close()  # creates d too
        fs.createFile(Path(str(d / "explicit"))).permission(perm(0o640)).build().close()
        fs.mkdirs(Path(str(d / "dir_default")))
        fs.mkdirs(Path(str(d / "dir_explicit")), perm(0o1777))
        modes[name] = {p: _mode(d / p) for p in ("", "default", "explicit", "dir_default", "dir_explicit")}
    assert modes["nio"] == modes["stock"]
    if umask == "077":  # Hadoop's umask also clears the sticky bit
        assert modes["nio"]["default"] == 0o600 and modes["nio"]["dir_explicit"] == 0o700


@pytest.mark.parametrize("mode", [0o1777, 0o755, 0o640, 0o444, 0o000])
def test_set_permission(spark, tmp_path, mode):
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    for name, fs in zip(("stock", "nio"), _pair(jvm)):
        (tmp_path / f"{name}_file").write_bytes(b"x")
        (tmp_path / f"{name}_dir").mkdir()
        fs.setPermission(Path(str(tmp_path / f"{name}_file")), perm)
        fs.setPermission(Path(str(tmp_path / f"{name}_dir")), perm)
    for kind in ("file", "dir"):
        assert _mode(tmp_path / f"nio_{kind}") == _mode(tmp_path / f"stock_{kind}") == mode
    missing = Path(str(tmp_path / "missing"))
    for fs in _pair(jvm):
        with pytest.raises(Py4JJavaError):
            fs.setPermission(missing, perm)


def _status(st) -> tuple:
    return (
        st.getPath().toString(),
        st.isSymlink(),
        st.isDirectory(),
        st.getLen(),
        st.getModificationTime(),
        st.getPermission().toString(),
        st.getOwner(),
        st.getGroup(),
        st.getSymlink().toString() if st.isSymlink() else None,
    )


def test_file_link_status(spark, tmp_path):
    """Unqualified paths: the only form on which the stock readlink works."""
    jvm = spark._jvm
    (tmp_path / "file").write_bytes(b"0123456789")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to("file")
    (tmp_path / "dangling").symlink_to("nowhere")
    stock, nio = _pair(jvm)
    Path = jvm.org.apache.hadoop.fs.Path
    for name in ("file", "dir", "link", "dangling"):
        p = Path(str(tmp_path / name))
        assert _status(nio.getFileLinkStatus(p)) == _status(stock.getFileLinkStatus(p)), name
    link = _status(nio.getFileLinkStatus(Path(str(tmp_path / "link"))))
    assert link[1] and link[3] == 10 and link[-1] == f"file:{tmp_path}/file"
    missing = Path(str(tmp_path / "missing"))
    assert _java_error(lambda: nio.getFileLinkStatus(missing)) == "java.io.FileNotFoundException"
    assert _java_error(lambda: stock.getFileLinkStatus(missing)) == "java.io.FileNotFoundException"


@pytest.mark.parametrize(
    "cls", ["org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem", "hydra.localfs.NioLocalFileSystem"]
)
def test_rename_refuses_existing_file(spark, tmp_path, cls):
    """Hive's ProxyLocalFileSystem, which the bundled hive-exec registers
    for file:// unless fs.file.impl is set, never renames onto an existing
    file; the override keeps that rule."""
    jvm = spark._jvm
    fs = jvm.java.lang.Class.forName(cls).newInstance()
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    Path = jvm.org.apache.hadoop.fs.Path
    for name in ("a", "b"):
        (tmp_path / name).write_bytes(name.encode())
    assert not fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "b")))
    assert (tmp_path / "a").read_bytes() == b"a" and (tmp_path / "b").read_bytes() == b"b"
    assert fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "c")))
    assert sorted(os.listdir(tmp_path)) == ["b", "c"]


def _checkpoint_manager(spark, path):
    jvm = spark._jvm
    CFM = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return CFM.create(jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration())


def _read(stream) -> bytes:
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
def test_checksum_sidecar_detects_corruption(spark, tmp_path, api):
    """Both APIs keep the stock checksum layer: a write leaves a .crc
    sidecar, and a read through FileSystem raises ChecksumException on a
    corrupted byte. (Stock FileContext reads skip the check: the raw
    stream is returned, so the read goes through FileSystem.)"""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "hydra.localfs.NioLocalFileSystem"
    target = tmp_path / "data.bin"
    p = jvm.org.apache.hadoop.fs.Path(str(target))
    payload = bytes(range(256)) * 16
    if api == "FileSystem":
        out = fs.create(p)
    else:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
        assert fc.getDefaultFileSystem().getClass().getName() == "hydra.localfs.NioLocalFs"
        out = _checkpoint_manager(spark, str(tmp_path)).createAtomic(p, False)
    out.write(bytearray(payload))
    out.close()
    assert sorted(os.listdir(tmp_path)) == [".data.bin.crc", "data.bin"]
    assert _read(fs.open(p)) == payload

    raw = bytearray(target.read_bytes())
    raw[1000] ^= 0xFF
    target.write_bytes(bytes(raw))
    with pytest.raises(Py4JJavaError) as e:
        _read(fs.open(p))
    assert e.value.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException"


def _processes_forked() -> int:
    with open("/proc/stat") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("processes "))


def test_checkpoint_and_table_writes_spawn_no_process(spark, tmp_path):
    """The stock classes fork ~10 processes per checkpoint file (chmod of
    the file and its sidecar, readlink of both rename ends of each); the
    override forks none. /proc/stat counts every clone, threads included,
    so the JVM's own thread starts are subtracted."""
    jvm = spark._jvm
    threads = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    mgr = _checkpoint_manager(spark, str(tmp_path / "ckpt"))
    mgr.mkdirs(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")))
    df = spark.range(4000).repartition(4)

    def spawned() -> int:
        return _processes_forked() - threads.getTotalStartedThreadCount()

    s0 = spawned()
    for i in range(50):
        out = mgr.createAtomic(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt" / str(i))), False)
        out.write(bytearray(b"offsets"))
        out.close()
    df.write.parquet(str(tmp_path / "table"))
    n = spawned() - s0
    assert len([f for f in os.listdir(tmp_path / "table") if f.endswith(".parquet")]) == 4
    assert len(os.listdir(tmp_path / "ckpt")) == 100  # 50 files + 50 sidecars
    assert n <= 20, f"{n} processes spawned"


def test_jar_matches_sources(tmp_path):
    """The committed jar is what tools/build_jvm.sh makes of the sources."""
    rebuilt = tmp_path / "rebuilt.jar"
    r = subprocess.run(
        ["bash", "tools/build_jvm.sh", str(rebuilt)], cwd=REPO, capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr
    with zipfile.ZipFile(LOCALFS_JAR) as committed, zipfile.ZipFile(rebuilt) as fresh:
        classes = sorted(n for n in committed.namelist() if n.endswith(".class"))
        assert classes == sorted(n for n in fresh.namelist() if n.endswith(".class"))
        for name in classes:
            assert committed.read(name) == fresh.read(name), f"{name} is stale: rerun tools/build_jvm.sh"
