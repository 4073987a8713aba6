"""Sources & sinks (SURVEY §2.1-2.2).

Thrill's VFS layer (glob, gzip/bzip2 filters, S3/HDFS backends,
thrill/vfs/) maps to Hadoop FS connectors that Spark ships natively:
glob patterns in paths, codec auto-detection by extension, s3a://
and hdfs:// schemes. Nothing to implement — these wrappers pin the
operator-level parity:

- ReadLines/WriteLines      <-> spark.read.text / df.write.text
- ReadBinary/WriteBinary    <-> parquet (the native binary format here)
- Generate                  <-> spark.range + expressions
- EqualToDIA/ConcatToDIA/Distribute <-> session.local_frame (driver-built
  engine tables as a JVM LocalRelation through Arrow: no Python worker,
  actual-size stats); from_vector keeps spark.createDataFrame for user
  collections with inferred or nested schemas
"""

from thrill_spark.sources.io import (
    read_lines,
    write_lines,
    write_lines_one,
    read_binary,
    write_binary,
    generate,
    from_vector,
)

__all__ = [
    "read_lines",
    "write_lines",
    "write_lines_one",
    "read_binary",
    "write_binary",
    "generate",
    "from_vector",
]
