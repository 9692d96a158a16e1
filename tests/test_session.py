"""Session-level settings that other layers rely on."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_manager_is_filesystem_based_and_never_overwrites(
    spark, tmp_path
):
    """Streaming checkpoints are written through Hadoop's FileSystem API
    (no `readlink` fork per rename without libhadoop), and a second
    atomic write of one log entry still fails instead of replacing it:
    the offset log's guard against two writers. The conf key is
    internal to Spark, so an upgrade that renames it fails here."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    factory = getattr(getattr(pkg, "CheckpointFileManager$"), "MODULE$")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = factory.create(
        jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}"), hadoop_conf
    )
    assert manager.getClass().getName() == FS_MANAGER

    entry = jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/0")
    first = manager.createAtomic(entry, False)
    first.write(bytearray(b"first writer"))
    first.close()

    second = manager.createAtomic(entry, False)
    second.write(bytearray(b"second writer"))
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    exists = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first writer"
