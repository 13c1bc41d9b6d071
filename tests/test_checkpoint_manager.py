"""The checkpoint file manager of ``get_spark`` sessions: FileSystem
renames, not the FileContext manager that forks ``readlink`` per file
operation on a local FS without the native Hadoop library."""

from __future__ import annotations

from projekt_data_engineering_iubh_spark.session import CHECKPOINT_FILE_MANAGER


def checkpoint_manager(session, path: str) -> str:
    """Class of the manager a stream started in ``session`` uses for ``path``."""
    jvm = session.sparkContext._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    conf = session._jsparkSession.sessionState().newHadoopConf()
    return manager.create(jvm.org.apache.hadoop.fs.Path(path), conf).getClass().getName()


def test_get_spark_checkpoints_through_filesystem_manager(spark, tmp_path):
    assert CHECKPOINT_FILE_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")
    assert checkpoint_manager(spark, str(tmp_path)) == CHECKPOINT_FILE_MANAGER
