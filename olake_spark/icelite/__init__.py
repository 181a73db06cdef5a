"""icelite — an Iceberg-v2-shaped table format built from scratch over Parquet.

This environment ships no iceberg-spark-runtime jar, so the engine implements
the table-format guarantees the reference relies on (SURVEY.md §4) directly:

- snapshots + sequence numbers, snapshot-pinned reads (serializable isolation
  for readers — the analogue of the reference's Oracle ``AS OF SCN`` scans and
  repeatable-read chunk isolation, pkg/jdbc/jdbc.go:287-357)
- parquet manifest files carrying per-file record counts, sizes and per-column
  min/max/null stats (the analogue of Iceberg manifests written by
  GenericAppenderFactory, IcebergUtil.java:234-253)
- equality-delete files + delete-before-insert row-delta commits
  (BaseDeltaTaskWriter.java:50-61, IcebergTableOperator.java:219-281)
- atomic metadata commits with optimistic concurrency (O_EXCL on the
  versioned metadata file is the linearization point)
- partition transforms identity / bucket / truncate / year / month / day /
  hour (IcebergUtil.java:154-198)

Data plane is 100% Spark DataFrames; the metadata plane is small JSON +
parquet manifests readable as DataFrames for metadata-driven planning
(never touching the heavy ``bytes`` column).
"""

from olake_spark.icelite.fileio import (ConditionalPutFileIO,  # noqa: F401
                                        FakeObjectStoreFileIO, FileIO,
                                        LocalFileIO, default_io)
from olake_spark.icelite.catalog import (Catalog,  # noqa: F401
                                         NoSuchTableError,
                                         TableAlreadyExistsError)
from olake_spark.icelite.clone import snapshot_table  # noqa: F401
from olake_spark.icelite.spec import PartitionField, PartitionSpec  # noqa: F401
from olake_spark.icelite.table import Table  # noqa: F401
