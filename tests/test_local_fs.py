"""The ``file://`` FileSystem of ``get_spark`` sessions
(``chess_lakehouse_spark/jvm/SyscallChmodFileSystem.java``): permission
bits set by a ``chmod(2)`` syscall, never by a forked ``chmod`` process,
with the same files, modes and checksums as Hadoop's own local FileSystem.

Two fresh-JVM subprocesses run side by side, each with a logging ``chmod``
first on ``PATH`` (Hadoop runs ``chmod`` through it when it forks): one
``get_spark`` session, and one vanilla session that is stopped before
``get_spark`` is called in the same JVM. Both make the same writes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import stat
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

_REPO = Path(__file__).resolve().parent.parent
_JVM_DIR = _REPO / "chess_lakehouse_spark" / "jvm"
_CLASS = "chess_lakehouse_spark.jvm.SyscallChmodFileSystem"

#: Run in a fresh interpreter: ``argv[1]`` is "ours" or "vanilla", ``argv[2]``
#: the output dir. Prints one JSON line of results.
_CHILD = textwrap.dedent(
    """
    import json, os, sys
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from chess_lakehouse_spark.operators.publish import write_partitioned
    from chess_lakehouse_spark.session import get_spark

    mode, out = sys.argv[1], sys.argv[2]
    log = os.environ["CHMOD_LOG"]

    def forks():
        with open(log) as fh:
            return sum(1 for _ in fh)

    def writes(spark):
        df = spark.range(0, 240).selectExpr("id", "id % 2 AS a", "id % 3 AS b", "id % 2 AS c")
        write_partitioned(df, out + "/lake", ("a", "b", "c"))
        q = (
            spark.readStream.schema("id long").json(out + "/stream_in")
            .writeStream.format("parquet").option("checkpointLocation", out + "/checkpoint")
            .trigger(availableNow=True).start(out + "/stream")
        )
        q.awaitTermination()

    def local_fs(spark):
        hconf = spark._jsc.hadoopConfiguration()
        return spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)

    res = {}
    if mode == "ours":
        spark = get_spark(
            app_name="local_fs", master="local[2]", shuffle_partitions=2,
            extra_conf={"spark.driver.extraClassPath": "/opt/caller/extra.jar"},
        )
        res["driver_class_path"] = spark.conf.get("spark.driver.extraClassPath")
    else:
        spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    open(log, "w").close()
    writes(spark)
    res["forks"] = forks()
    res["fs_class"] = local_fs(spark).getClass().getName()
    res["sum"] = spark.read.parquet(out + "/lake").agg(F.sum("id")).first()[0]
    if mode == "ours":
        jvm = spark._jvm
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission
        fs = local_fs(spark)
        for name, sym in (("sticky", "drwxr-xr-t"), ("plain", "drwxr-x---")):
            p = jvm.org.apache.hadoop.fs.Path(out + "/" + name)
            fs.mkdirs(p)
            before = forks()
            fs.setPermission(p, perm.valueOf(sym))
            res[name + "_forks"] = forks() - before
        part = next(
            os.path.join(d, f) for d, _, fs_ in os.walk(out + "/lake") for f in sorted(fs_)
            if f.startswith("part-")
        )
        with open(part, "r+b") as fh:
            fh.seek(4)
            b = fh.read(1)
            fh.seek(4)
            fh.write(bytes([b[0] ^ 0xFF]))
        try:
            spark.read.parquet(out + "/lake").agg(F.sum("id")).collect()
            res["corrupt_read"] = "no error"
        except Exception as e:
            res["corrupt_read"] = str(e)[:4000]
    else:
        spark.stop()
        spark = get_spark(app_name="local_fs_after_vanilla", master="local[2]", shuffle_partitions=2)
        res["after_fs_class"] = local_fs(spark).getClass().getName()
        res["after_fs_impl"] = spark._jsc.hadoopConfiguration().get("fs.file.impl")
        spark.range(0, 10).write.parquet(out + "/after")
        res["after_rows"] = spark.read.parquet(out + "/after").count()
    print("RESULT " + json.dumps(res))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    """Both subprocesses, started together; ``{mode: (out_dir, result)}``."""
    base = tmp_path_factory.mktemp("local_fs")
    bin_dir = base / "bin"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$*" >> "$CHMOD_LOG"\nexec {shutil.which("chmod")} "$@"\n')
    wrapper.chmod(0o755)
    script = base / "child.py"
    script.write_text(_CHILD)
    procs = {}
    for mode in ("ours", "vanilla"):
        out = base / mode
        (out / "stream_in").mkdir(parents=True)
        for i in range(3):
            (out / "stream_in" / f"in{i}.json").write_text("".join(f'{{"id": {i * 10 + j}}}\n' for j in range(10)))
        env = dict(
            os.environ,
            PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
            CHMOD_LOG=str(base / f"{mode}.chmod.log"),
            PYTHONPATH=os.pathsep.join(p for p in (str(_REPO), os.environ.get("PYTHONPATH")) if p),
            SPARK_DRIVER_MEMORY="1g",
        )
        procs[mode] = (out, subprocess.Popen(
            [sys.executable, str(script), mode, str(out)], cwd=base, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        ))
    done = {}
    for mode, (out, proc) in procs.items():
        stdout, stderr = proc.communicate(timeout=600)
        lines = [ln for ln in stdout.splitlines() if ln.startswith("RESULT ")]
        assert proc.returncode == 0 and lines, f"{mode} child failed:\n{stdout}\n{stderr[-4000:]}"
        done[mode] = (out, json.loads(lines[-1][len("RESULT "):]))
    return done


def _tree(root: Path) -> dict[str, tuple[int, int]]:
    """Relative path -> (file type, permission bits), part-file UUIDs normalized."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            rel = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", os.path.relpath(p, root))
            st = os.lstat(p)
            out[rel] = (stat.S_IFMT(st.st_mode), stat.S_IMODE(st.st_mode))
    return out


def test_writes_fork_no_chmod(runs):
    """A partitioned write and a streaming batch (checkpoint, commit log,
    ``_spark_metadata``: the FileContext path) fork no ``chmod``; a vanilla
    session forks one per file, ``.crc`` file and directory."""
    _, ours = runs["ours"]
    _, vanilla = runs["vanilla"]
    assert ours["fs_class"] == _CLASS
    assert ours["forks"] == 0
    assert vanilla["forks"] > 50


def test_same_tree_and_modes_as_hadoop(runs):
    """Same relative paths, file types and modes as a vanilla session's
    output for the same writes, ``.crc`` files included."""
    (ours_dir, ours), (vanilla_dir, vanilla) = runs["ours"], runs["vanilla"]
    for sub in ("lake", "stream", "checkpoint"):
        tree = _tree(ours_dir / sub)
        assert tree == _tree(vanilla_dir / sub), sub
        if sub == "lake":
            assert any(rel.endswith(".parquet.crc") for rel in tree)
    assert ours["sum"] == vanilla["sum"] == sum(range(240))


def test_flipped_byte_fails_the_read(runs):
    """``.crc`` files are still verified on read."""
    _, ours = runs["ours"]
    assert "ChecksumException" in ours["corrupt_read"]


def test_sticky_bit_still_applies(runs):
    """NIO cannot set the sticky bit, so that permission goes to Hadoop's
    own ``setPermission`` (one fork); any other is a syscall."""
    out, ours = runs["ours"]
    assert stat.S_IMODE(os.stat(out / "sticky").st_mode) == 0o1755
    assert ours["sticky_forks"] == 1
    assert stat.S_IMODE(os.stat(out / "plain").st_mode) == 0o750
    assert ours["plain_forks"] == 0


def test_jvm_without_the_class_keeps_hadoops_default(runs):
    """A JVM a vanilla session launched has no jar on its class path:
    ``get_spark`` there names no FileSystem class, and reads and writes
    still work."""
    _, vanilla = runs["vanilla"]
    assert vanilla["after_fs_impl"] is None
    assert vanilla["after_fs_class"] == vanilla["fs_class"] != _CLASS
    assert vanilla["after_rows"] == 10


def test_caller_class_path_is_kept_behind_the_jar(runs):
    _, ours = runs["ours"]
    assert ours["driver_class_path"] == os.pathsep.join(
        [str(_JVM_DIR / "syscall-chmod-fs.jar"), "/opt/caller/extra.jar"]
    )


def test_session_uses_the_class_on_both_entry_points(spark, tmp_path):
    """The test session (``get_spark``) resolves ``file://`` to the class
    through ``FileSystem`` and ``FileContext`` alike, and a partitioned
    write keeps its ``.crc`` files and the umask's modes."""
    from chess_lakehouse_spark.operators.publish import write_partitioned

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getClass().getName() == _CLASS
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), hconf)
    assert fc.getDefaultFileSystem().getClass().getName() == _CLASS + "$Fs"
    df = spark.range(0, 40).selectExpr("id", "id % 2 AS a", "id % 3 AS b")
    assert write_partitioned(df, str(tmp_path / "lake"), ("a", "b"))["rows"] == 40
    umask = os.umask(0)
    os.umask(umask)
    tree = _tree(tmp_path / "lake")
    assert any(rel.endswith(".parquet.crc") for rel in tree)
    for rel, (kind, mode) in tree.items():
        assert mode == (0o777 if kind == stat.S_IFDIR else 0o666) & ~umask, rel


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac is not installed")
def test_jar_matches_its_source(tmp_path):
    """The committed jar is what ``javac --release 17`` builds from the
    committed source: every class's ``javap -c -p`` listing is equal."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    classes = tmp_path / "classes"
    subprocess.run(
        ["javac", "--release", "17", "-nowarn", "-cp", jars, "-d", str(classes),
         str(_JVM_DIR / "SyscallChmodFileSystem.java")],
        check=True, capture_output=True,
    )
    names = sorted(
        str(p.relative_to(classes).with_suffix("")).replace(os.sep, ".")
        for p in classes.rglob("*.class")
    )
    committed = subprocess.run(
        ["jar", "tf", str(_JVM_DIR / "syscall-chmod-fs.jar")], check=True, capture_output=True, text=True
    ).stdout.split()
    assert sorted(n[: -len(".class")].replace("/", ".") for n in committed if n.endswith(".class")) == names

    def listing(cp: str) -> str:
        return subprocess.run(
            ["javap", "-c", "-p", "-cp", f"{cp}{os.pathsep}{jars}", *names],
            check=True, capture_output=True, text=True,
        ).stdout

    assert listing(str(_JVM_DIR / "syscall-chmod-fs.jar")) == listing(str(classes))
