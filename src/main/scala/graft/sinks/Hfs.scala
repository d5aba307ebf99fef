package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Scheme-aware filesystem access for the kilobyte control files the sinks
  * keep NEXT TO their Spark-written data (manifests, sidecar markers, XML
  * header/footer shards). Spark jobs resolve their output paths through the
  * Hadoop `FileSystem` API, so a sink whose control files go through
  * `java.nio.file` instead splits the artifact across two filesystems the
  * moment `dir` is an object-store or HDFS URI: the data lands remotely, the
  * marker locally — existence probes then silently report "absent" and
  * append-vs-overwrite decisions corrupt the remote copy. Routing the small
  * files through the same `FileSystem` the data writes use keeps the whole
  * artifact on one store for any scheme Spark itself can write to.
  */
private[graft] object Hfs {

  private def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** Whole-file overwrite; parent directories are created as needed. */
  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val out = fs(spark, p).create(p, /*overwrite=*/ true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Whole-file overwrite through a buffered data stream: a driver-sized
    * binary body, written without a Spark job.
    */
  def writeData(spark: SparkSession, path: String)(body: DataOutputStream => Unit): Unit = {
    val p = new Path(path)
    val out = new DataOutputStream(new BufferedOutputStream(fs(spark, p).create(p, true)))
    try body(out) finally out.close()
  }

  /** A file written by [[writeData]], read back by `body`; None when absent. */
  def readData[A](spark: SparkSession, path: String)(body: DataInputStream => A): Option[A] = {
    val p = new Path(path)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = new DataInputStream(new BufferedInputStream(f.open(p)))
      try Some(body(in)) finally in.close()
    }
  }

  /** Names of the immediate child directories of `path` (empty when the
    * path is absent) — partition-directory discovery without a table scan.
    */
  def listDirNames(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Recursive delete; absent paths are a no-op. Returns true if removed. */
  def delete(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).delete(p, /*recursive=*/ true)
  }

  def readText(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val buf = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      val in = f.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, StandardCharsets.UTF_8))
    }
  }
}
