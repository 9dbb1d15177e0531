package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every tool main and the test suite run on. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted
      // to micros in SparkEntry.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Local-path checkpoint I/O without Hadoop's per-op subprocess forks
      // (readlink/chmod/ls via Shell) — the NIO manager delegates back to
      // the default for any non-file: scheme, so nothing changes on a
      // real cluster. See NioCheckpointFileManager scaladoc.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      // The checksum wrapper doubles checkpoint file ops to guard object-
      // store corruption; a local POSIX fs gives those guarantees itself.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Local data-plane writes without the per-file chmod fork (and the
      // .crc sibling files) of Hadoop's default checksummed local FS —
      // see ForklessLocalFileSystem scaladoc. Cluster schemes (hdfs/s3)
      // are untouched.
      .config("spark.hadoop.fs.file.impl",
        "graft.streaming.ForklessLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
